"""Incremental (streaming) near-duplicate filtering.

A continuously-fed corpus cannot re-run global dedup per drop: each
micro-batch must be deduplicated against EVERYTHING already ingested
without rescanning it.  This module keeps a compact SIGNATURE STORE
(LSH band keys only — ~8 md5 strings per accepted doc, never text) and
runs, per micro-batch via ``foreachBatch``:

  1. in-batch dedup: fast MinHash (k/bands from ExtractConfig) -> banded
     candidate pairs -> min-label components -> component representatives
     (the same operators the batch sweep uses — one code path);
  2. cross-batch dedup: join ALL batch docs' band keys against the store;
     a collision contaminates the doc's whole in-batch COMPONENT (not
     just the colliding member — band collision is not transitive, and
     global connected components flow through dropped docs too), so the
     component's representative is dropped with it.  LSH-candidate
     collision semantics; the recall knob is (k, n_bands), and a
     production pipeline can append an n-gram-Jaccard verify stage before
     the drop, exactly as the batch path does;
  3. exactly-once outputs: survivors AND the batch's band keys are
     written to per-batch-id directories with overwrite (the
     stream.write_batch_idempotent pattern); the store lookup in step 2
     EXCLUDES the current batch_id partition, so a retried batch never
     collides with its own partial previous attempt.  The store delta
     carries EVERY seen doc's keys — dropped docs included — because
     global-dedup connectivity flows through dropped docs (a future doc
     near a dropped one belongs to the same component).

At 10^12 docs the store is the only growing state and it is band keys
only; the lookup is a broadcast-able (or bucketed) equi-join on the band
key — never a scan of ingested text.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException

from ..config import ExtractConfig
from ..operators.caching import scoped_caches
from ..operators.dedup import (
    band_cols,
    dup_components,
    lsh_candidate_pairs,
    melt_bands,
    minhash_signature_fast,
)
from .stream import stream_documents

STORE_SCHEMA = "band_key string"
STORE_CONFIG_FILE = "_dedup_config.json"
STORE_WIDTH_FILE = "_dedup_width.json"


def melt_band_keys(signatures: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band0..bandN) -> (id, band_key) long form, band index baked
    into the key so band0 collisions never match band1 keys."""
    return melt_bands(signatures, id_col).select(
        id_col,
        F.concat(F.col("bi").cast("string"), F.lit(":"), F.col("bk")).alias(
            "band_key"
        ),
    )


def read_signature_store(
    spark: SparkSession, store_dir: str, exclude_batch_id: int | None = None
) -> DataFrame:
    """The accepted-document band keys, as (band_key).  ``exclude_batch_id``
    prunes the current batch's own partition — a retried batch must not
    collide with its own failed attempt's partial write.

    ONLY a missing path reads as the legitimate empty first-batch store;
    any other analysis failure (corrupt partitions, a non-parquet file at
    store_dir, schema drift) propagates — swallowing it would silently
    disable cross-batch dedup for every subsequent batch."""
    try:
        store = spark.read.parquet(store_dir)
    except AnalysisException as exc:
        # PATH_NOT_FOUND: no store yet; UNABLE_TO_INFER_SCHEMA: the dir
        # holds only the _dedup_config.json stamp (underscore files are
        # invisible to the parquet reader) — both are the first-batch case.
        # Matched by ERROR CLASS (getCondition is the 4.x name, with the
        # deprecated getErrorClass and a message-substring fallback for
        # older captured exceptions) — message formats change across Spark
        # releases; the class names are the stable contract.
        getter = getattr(exc, "getCondition", None) or getattr(
            exc, "getErrorClass", None
        )
        condition = getter() if getter is not None else None
        first_batch = {"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"}
        if condition in first_batch or (
            condition is None
            and any(c in str(exc) for c in first_batch)
        ):
            return spark.createDataFrame([], STORE_SCHEMA)
        raise
    if "band_key" not in store.columns:  # parquet, but not a signature store
        raise ValueError(
            f"{store_dir} is not a signature store (no band_key column)"
        )
    if "batch_id" in store.columns and exclude_batch_id is not None:
        store = store.filter(F.col("batch_id") != exclude_batch_id)
    return store.select("band_key")


def _check_store_config(
    spark: SparkSession,
    store_dir: str,
    cfg: ExtractConfig | None = None,
    expected: dict | None = None,
    stamp_file: str = STORE_CONFIG_FILE,
) -> None:
    """Stamp the key-generation config into the store dir on first use and
    fail LOUDLY on mismatch thereafter: keys from a different config can
    never collide with the stored ones, so a silent config change would
    re-admit every previously-seen near-duplicate.  ``expected`` carries
    the config dict directly (the embedding path); without it the stamp
    is the text path's (minhash_k, minhash_bands) from ``cfg``.

    Goes through the Hadoop FileSystem API (not os.path), so the guard
    holds for hdfs://, s3a:// and every other FS Spark itself can read —
    a local-only check would silently no-op exactly on the production
    deployments it exists for.  The stamp is created with overwrite=False:
    an EXCLUSIVE create, so two streams racing to stamp a fresh store
    cannot both win (the loser re-reads and validates)."""
    import json

    if expected is None:
        cfg = cfg or ExtractConfig()
        expected = {"minhash_k": cfg.minhash_k, "minhash_bands": cfg.minhash_bands}
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    stamp = jvm.org.apache.hadoop.fs.Path(
        os.path.join(store_dir, stamp_file)
    )
    fs = stamp.getFileSystem(hconf)

    def read_stamp() -> dict:
        stream = fs.open(stamp)
        try:
            raw = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        return json.loads(raw)

    def validate(found: dict) -> None:
        # compare the EXPECTED keys only: an extra legacy stamp key (e.g.
        # the pre-round-5 'threshold') is informational, not a geometry
        # change, and must not force a false full re-dedup — a MISSING
        # expected key still mismatches (projected get -> None).  The
        # error reports the RAW stamp: the projection would hide exactly
        # the contents the operator needs to identify the store.
        projected = {k: found.get(k) for k in expected}
        if projected != expected:
            raise ValueError(
                f"signature store at {store_dir} was built with {found}; "
                f"this stream is configured with {expected} — their band "
                "keys are incompatible and every stored doc would be "
                "forgotten. Use a fresh store_dir (full re-dedup) or the "
                "original config."
            )

    if fs.exists(stamp):
        validate(read_stamp())
        return
    # no stamp: refuse to ADOPT a store that already holds data — an
    # unstamped-but-populated dir predates the guard (or lost its stamp),
    # and assuming the current config would defeat the whole check
    if stamp_file == STORE_CONFIG_FILE and _list_batch_partitions(spark, store_dir):
        raise ValueError(
            f"signature store at {store_dir} holds batch data but no "
            f"{STORE_CONFIG_FILE} stamp; refusing to guess its (k, bands). "
            "Write the stamp matching the config that built it, or start a "
            "fresh store_dir."
        )
    try:
        out = fs.create(stamp, False)  # overwrite=False -> exclusive
        try:
            out.write(bytearray(json.dumps(expected).encode()))
        finally:
            out.close()
    except Exception:
        # lost the create race (or a concurrent stamp landed): the winner's
        # stamp is authoritative — validate against it
        if fs.exists(stamp):
            validate(read_stamp())
            return
        raise
    # On HDFS the exclusive create settles the race by itself; on object
    # stores (s3a) the existence probe inside create() is NOT atomic with
    # the write, so two racing streams can both believe they stamped a
    # fresh store.  Re-read and validate: last-writer-wins is detectable,
    # and the loser of a non-atomic race fails loudly here instead of
    # running with silently incompatible band keys.
    validate(read_stamp())


def _store_fs(spark: SparkSession, store_dir: str):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(store_dir)
    return jvm, path.getFileSystem(spark._jsc.hadoopConfiguration())


def _list_batch_partitions(spark: SparkSession, store_dir: str) -> list[int]:
    jvm, fs = _store_fs(spark, store_dir)
    statuses = fs.globStatus(
        jvm.org.apache.hadoop.fs.Path(os.path.join(store_dir, "batch_id=*"))
    )
    if statuses is None:
        return []
    return sorted(
        int(st.getPath().getName().split("=", 1)[1]) for st in statuses
    )


COMPACT_TMP = "_compact_tmp"


def compact_signature_store(
    spark: SparkSession, store_dir: str, current_batch_id: int
) -> int:
    """Fold every CLOSED batch partition into one consolidated segment.

    The store accumulates one ``batch_id=N`` directory (one small parquet
    file) per micro-batch forever; at streaming cadence the store READ
    becomes a small-files listing problem long before key volume matters.
    This rewrites all partitions older than ``current_batch_id`` —
    including previous consolidated segments — into a single
    key-deduplicated segment at ``batch_id=-current_batch_id``, then
    deletes the sources.  Returns the number of source partitions folded.

    Correctness properties:
      * retry-exclusion is preserved — consolidated segments carry a
        NEGATIVE batch_id, which can never equal the in-flight (>= 0)
        batch id that ``read_signature_store`` excludes;
      * the in-flight batch's own partition (possibly a partial write
        under retry) is never touched: only ``0 <= bid < current`` and
        prior negative segments are folded;
      * SINGLE-WRITER contract: the store (like its batch_id partition
        layout itself — two streams' independent batch-id sequences would
        overwrite each other's partitions long before compaction matters)
        belongs to exactly one stream; the config stamp's race handling
        covers duplicate starts of the SAME stream, not store sharing.
        Streams that must dedup against each other need distinct
        store_dirs plus a shared read-only lookup, not one store;
      * crash-safe without a transaction log: the consolidated segment is
        written to a scratch dir and RENAMED to ``batch_id=-current``
        BEFORE any source is deleted, and a MARKER file (``_folded``,
        naming the folded sources) is written into the segment AFTER the
        rename.  Sources are deleted only once the marker exists.  On
        HDFS the rename is atomic and the marker is belt-and-braces; on
        object stores (s3a) a directory "rename" is a non-atomic
        copy+delete, so a crash mid-rename can leave a PARTIAL segment at
        ``batch_id=-current`` — without the marker a retry would treat it
        as complete and delete the sources, silently losing store keys
        and re-admitting previously-seen near-duplicates.  With the
        marker, a retry that finds a marker-less segment discards it and
        recomputes from the (still intact) sources.  Mid-delete crashes
        only leave temporary key DUPLICATES between the segment and
        undeleted sources — harmless for an existence-join store.
    """
    import json

    jvm, fs = _store_fs(spark, store_dir)

    def hpath(name: str):
        return jvm.org.apache.hadoop.fs.Path(os.path.join(store_dir, name))

    target = -int(current_batch_id)
    marker = hpath(f"batch_id={target}/_folded")
    sources = [
        bid
        for bid in _list_batch_partitions(spark, store_dir)
        if bid < current_batch_id and bid != target
    ]
    if not sources:
        return 0
    if fs.exists(hpath(f"batch_id={target}")) and not fs.exists(marker):
        # a prior attempt crashed between rename start and marker write:
        # the segment's completeness is unknown (non-atomic object-store
        # rename) — discard it and recompute from the intact sources
        fs.delete(hpath(f"batch_id={target}"), True)
    if not fs.exists(hpath(f"batch_id={target}")):
        if len(sources) < 2:
            return 0  # nothing worth folding yet
        # ONE partition-pruned scan of the store root (the partition filter
        # prunes the in-flight batch's files), not a per-source read + an
        # N-deep union — at compact_every=16 on an object store that is one
        # listing round-trip instead of 17
        consolidated = (
            spark.read.parquet(store_dir)
            .filter(F.col("batch_id").isin(sources))
            .select("band_key")
        )
        tmp = hpath(COMPACT_TMP)
        consolidated.distinct().write.mode("overwrite").parquet(
            os.path.join(store_dir, COMPACT_TMP)
        )
        if not fs.rename(tmp, hpath(f"batch_id={target}")):
            raise IOError(
                f"compaction rename {COMPACT_TMP} -> batch_id={target} failed"
            )
        out = fs.create(marker, True)
        try:
            out.write(bytearray(json.dumps({"sources": sources}).encode()))
        finally:
            out.close()
    # marker present (this attempt's write or a prior attempt's): the
    # segment provably holds every source's keys — drop the sources
    for bid in sources:
        fs.delete(hpath(f"batch_id={bid}"), True)
    return len(sources)


def _component_survivor_ids(
    ids: DataFrame, keys: DataFrame, pairs: DataFrame, store: DataFrame
) -> DataFrame:
    """The shared keep/drop core of BOTH modalities: in-batch components
    over the verified pair graph, representatives, whole-component
    contamination by any store collision (cross-batch, unverified —
    collision is not transitive and connectivity flows through dropped
    docs), survivors = uncontaminated representatives.  ``ids`` and
    ``keys`` carry doc_id; returns (doc_id)."""
    comps = dup_components(ids, pairs)
    reps = comps.filter(F.col("doc_id") == F.col("component")).select("doc_id")
    contaminated_comps = (
        keys.join(store, "band_key")
        .select("doc_id")
        .distinct()
        .join(comps, "doc_id")
        .select("component")
        .distinct()
    )
    return reps.join(
        contaminated_comps,
        reps["doc_id"] == contaminated_comps["component"],
        "left_anti",
    ).select("doc_id")


def _make_process_batch(
    spark: SparkSession,
    dedup_fn,
    survivors_dir: str,
    store_dir: str,
    compact_every: int | None,
):
    """The shared foreachBatch body of BOTH stream starters: store read
    with self-batch exclusion, scoped-cache dedup, exactly-once survivor
    + key writes, periodic compaction.  ``dedup_fn(batch_df, store) ->
    (survivors, batch_keys)`` is the only modality-specific piece."""
    from .stream import write_batch_idempotent

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        store = read_signature_store(spark, store_dir, exclude_batch_id=batch_id)
        with scoped_caches():
            survivors, keys = dedup_fn(batch_df, store)
            write_batch_idempotent(survivors, survivors_dir, batch_id)
            write_batch_idempotent(keys, store_dir, batch_id)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_signature_store(spark, store_dir, batch_id)

    return process_batch


def dedup_batch(
    batch_df: DataFrame,
    store: DataFrame,
    config: ExtractConfig | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch through in-batch + cross-batch dedup.

    Returns (survivors, batch_band_keys).  NOT lazy: the component step
    runs Spark jobs during this call (dup_components' fixpoint loop).  The
    signature projection is persisted because those jobs and the two
    output writes are SEPARATE actions (exchange reuse works only inside
    one plan) — call inside ``scoped_caches()``, as
    start_incremental_dedup_stream does, so it is released once the
    outputs are written.
    ``batch_band_keys`` covers EVERY batch doc — survivors and dropped —
    because global-dedup connectivity flows through dropped docs."""
    from pyspark import StorageLevel

    from ..operators.caching import register_cache

    cfg = config or ExtractConfig()
    sigs = minhash_signature_fast(
        batch_df, k=cfg.minhash_k, n_bands=cfg.minhash_bands
    )
    # one cache boundary right after the UDF: every consumer below (pair
    # join, melt, contamination joins) reads the slim (id, bands)
    # projection, so the signature kernel runs ONCE per batch
    slim = register_cache(
        sigs.select("doc_id", *band_cols(sigs)).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    pairs = lsh_candidate_pairs(slim)
    all_keys = melt_band_keys(slim)
    survivor_ids = _component_survivor_ids(
        batch_df.select("doc_id"), all_keys, pairs, store
    )
    survivors = batch_df.join(survivor_ids, "doc_id")
    batch_keys = all_keys.select("band_key").distinct()
    return survivors, batch_keys


def start_incremental_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    survivors_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    config: ExtractConfig | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 1,
    compact_every: int | None = 16,
) -> StreamingQuery:
    """Streaming dedup: survivors land in ``survivors_dir/batch_id=N``,
    their band keys in ``store_dir/batch_id=N`` — both overwritten on
    retry (exactly-once), with the store lookup excluding the current
    batch id.  The store is config-stamped: restarting against an
    existing store with different (k, bands) fails loudly instead of
    silently forgetting every ingested document.  Every ``compact_every``
    batches the closed store partitions are folded into one consolidated
    segment (see compact_signature_store), so the store's file count stays
    bounded instead of growing one small file per micro-batch forever;
    ``compact_every=None`` disables compaction."""
    cfg = config or ExtractConfig()
    _check_store_config(spark, store_dir, cfg)

    from .stream import start_foreach_batch_stream

    process_batch = _make_process_batch(
        spark,
        lambda batch_df, store: dedup_batch(batch_df, store, cfg),
        survivors_dir, store_dir, compact_every,
    )
    return start_foreach_batch_stream(
        stream_documents(spark, input_dir, max_files_per_trigger),
        process_batch, checkpoint_dir, available_now,
    )


# ---------------------------------------------------------------------------
# Embedding modality: the same store / exactly-once / compaction machinery
# over sign-bucket LSH band keys of an embedding stream.  The store design
# is key-agnostic by construction (band_key strings, never payloads), so
# the embedding path reuses read_signature_store, write_batch_idempotent,
# compact_signature_store and the config stamp verbatim — only the key
# kernel and the in-batch verification differ from the text path.
# ---------------------------------------------------------------------------


# Default plane count per band: the key space is n_bands x 2^n_planes and
# the cross-batch drop is UNVERIFIED, so the space must vastly exceed the
# stream's distinct-content diversity or the store saturates and drops
# everything (a 4 x 2^8 = 1024-key space saturates after a few thousand
# diverse vectors — the round-5 review finding).  32 planes/band gives
# 4 x 2^32 ≈ 1.7e10 keys while keeping the tight-duplicate recall the
# unverified semantics target: a sign flips with probability theta/pi, so
# a cosine-0.9999 duplicate (re-upload / re-crawl, the streaming case)
# matches a 32-bit band with (1 - 0.0045)^32 ≈ 0.87 and ANY of 4 bands
# with ≈ 0.9997; EXACT copies always match (identical signs).  Marginal
# 0.95-cosine near-dups need a cosine verify, which needs vectors — the
# in-batch pass has them and verifies; cross-batch stays conservative by
# design.  Scaling past ~10^10 distinct contents: raise n_planes (keys
# stay short strings; recall then wants more bands too).
EMBEDDING_N_PLANES = 32


def embedding_band_keys(
    embeddings: DataFrame,
    n_bands: int = 4,
    n_planes: int = EMBEDDING_N_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Melted (doc_id, band_key) LSH band keys for an embedding batch:
    band ``b`` is the sign pattern of the vector against hyperplanes
    ``j in [b*n_planes, (b+1)*n_planes)`` of the SAME deterministic
    integer grid the batch ``embedding_near_dup`` bucket uses — at the
    default width band 0's FIRST 8 BITS are exactly that bucket, the
    extra planes widen the key space (see EMBEDDING_N_PLANES) and the
    extra bands are the recall knob (a near dup colliding on ANY band is
    a candidate).  Key strings are prefixed with the band index so bands
    never collide with each other, and the kernel is one Arrow-batched
    numpy matmul per batch.  A null or wrong-width vector fails LOUDLY
    with its vec_ids named — an unguarded np.stack error would wedge the
    stream on a permanently replayed batch with no indication of the bad
    row.  Declare ``dim`` to make the width check ABSOLUTE: without it
    only within-Arrow-batch consistency is checkable, so raggedness that
    arrives width-segregated across files/partitions passes silently
    (and produces incomparable keys — the plane grid is width-sized)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from ..operators.similarity import PLANE_ADD, PLANE_MULT

    total = n_bands * n_planes

    @pandas_udf("array<string>")
    def keys_udf(ids: pd.Series, vs: pd.Series) -> pd.Series:
        lens = {len(v) for v in vs if v is not None}
        ref = dim if dim is not None else max(lens, default=0)
        if any(v is None for v in vs) or lens - {ref}:
            culprits = [
                int(i)
                for i, v in zip(ids, vs)
                if v is None or len(v) != ref
            ][:5]
            raise ValueError(
                "embedding_band_keys: null or ragged embedding rows "
                f"(offending vec_ids {culprits}, widths seen {sorted(lens)},"
                f" expected {ref}) — fix or filter the input; an unguarded"
                " batch would wedge the stream on permanent replay"
            )
        M = np.stack(vs.to_numpy()).astype(np.float64)
        j = np.arange(total, dtype=np.int64)[:, None]
        kk = np.arange(M.shape[1], dtype=np.int64)[None, :]
        W = ((j * PLANE_MULT + kk * PLANE_ADD) % 1000 - 500).astype(np.float64)
        signs = (M @ W.T) >= 0  # (n, total)
        out = []
        for row in signs:
            out.append(
                [
                    f"e{b}:"
                    + "".join(
                        "1" if x else "0"
                        for x in row[b * n_planes:(b + 1) * n_planes]
                    )
                    for b in range(n_bands)
                ]
            )
        return pd.Series(out)

    return embeddings.select(
        F.col(id_col).alias("doc_id"),
        F.explode(keys_udf(F.col(id_col), F.col(vec_col))).alias("band_key"),
    )


# In-batch candidate bands stay NARROW: candidates are cosine-verified, so
# false band collisions cost one verify and nothing else, while a 32-bit
# band would gate the verify itself — at cosine 0.95 a pair matches some
# 8-bit band with ~89% but some 32-bit band with only ~13% (the round-5
# review finding).  The WIDE bands are for the store, where collisions
# drop UNVERIFIED and precision is what matters.
EMBEDDING_CAND_PLANES = 8


def dedup_batch_embeddings(
    batch_df: DataFrame,
    store: DataFrame,
    n_bands: int = 4,
    n_planes: int = EMBEDDING_N_PLANES,
    threshold: float = 0.95,
    cand_planes: int = EMBEDDING_CAND_PLANES,
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One embedding micro-batch through in-batch + cross-batch near-dup
    filtering — the dedup_batch shape with sign-bucket keys.

    TWO key geometries, one grid: in-batch CANDIDATES come from narrow
    ``cand_planes``-bit bands and are VERIFIED with true cosine >=
    threshold before forming components — the batch holds its vectors,
    so false band collisions cost one verify and nothing else, and the
    narrow bands keep candidate recall high at the threshold (a 32-bit
    band would gate the verify itself: ~13% vs ~89% at cosine 0.95).
    The STORE keys are the wide ``n_planes``-bit bands: cross-batch
    collisions contaminate the whole component UNVERIFIED — the store
    keeps band keys only (never vectors, the same never-the-payload
    property as the text store) — so there precision is what matters and
    the wide key space keeps the conservative drop sound (see
    EMBEDDING_N_PLANES).  Returns (survivors, batch_band_keys); NOT lazy
    (dup_components runs jobs), and the key projections are persisted for
    the separate actions that follow, as in dedup_batch — call inside
    scoped_caches()."""
    from pyspark import StorageLevel

    from ..operators.caching import register_cache
    from ..operators.similarity import cosine_fast

    ids = batch_df.select(F.col("vec_id").alias("doc_id"))
    # ONE cache boundary after the (single) key kernel: the wide keys
    # feed the contamination join AND the store output
    keys = register_cache(
        embedding_band_keys(batch_df, n_bands, n_planes, dim=dim).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    # narrow candidate keys DERIVE from the cached wide keys whenever the
    # geometries nest (narrow band b = planes [b*cand_planes, ...), all
    # inside wide band 0 when n_bands*cand_planes <= n_planes) — a cheap
    # substring projection instead of a second full matmul kernel and a
    # second persisted copy of the batch
    if cand_planes == n_planes:
        cand_keys = keys
    elif n_bands * cand_planes <= n_planes:
        wide0 = keys.filter(F.col("band_key").startswith("e0:"))
        cand_keys = wide0.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.concat(
                            F.lit(f"e{b}:"),
                            F.substring(
                                "band_key", 4 + b * cand_planes, cand_planes
                            ),
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("band_key"),
        )
    else:
        cand_keys = register_cache(
            embedding_band_keys(
                batch_df, n_bands, cand_planes, dim=dim
            ).persist(StorageLevel.MEMORY_AND_DISK)
        )
    left = cand_keys.select(F.col("doc_id").alias("doc_a"), "band_key")
    right = cand_keys.select(F.col("doc_id").alias("doc_b"), "band_key")
    cand = (
        left.join(right, "band_key")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    va = batch_df.select(
        F.col("vec_id").alias("doc_a"),
        F.col("embedding").cast("array<double>").alias("va"),
    )
    vb = batch_df.select(
        F.col("vec_id").alias("doc_b"),
        F.col("embedding").cast("array<double>").alias("vb"),
    )
    pairs = (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn("cos", cosine_fast("va", "vb"))
        .filter(F.col("cos") >= threshold)
        .select("doc_a", "doc_b")
    )
    survivor_ids = _component_survivor_ids(ids, keys, pairs, store)
    survivors = batch_df.join(
        survivor_ids.select(F.col("doc_id").alias("vec_id")), "vec_id"
    )
    batch_keys = keys.select("band_key").distinct()
    return survivors, batch_keys


def start_incremental_embedding_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    survivors_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    n_bands: int = 4,
    n_planes: int = EMBEDDING_N_PLANES,
    threshold: float = 0.95,
    available_now: bool = True,
    max_files_per_trigger: int = 1,
    compact_every: int | None = 16,
    cand_planes: int = EMBEDDING_CAND_PLANES,
    dim: int | None = None,
) -> StreamingQuery:
    """Streaming near-dup filtering for an EMBEDDING stream — the
    start_incremental_dedup_stream contract (exactly-once survivors +
    band-key store, config stamp, periodic compaction) with sign-bucket
    LSH keys.  The stamp records the STORE-KEY GEOMETRY only (kind,
    n_bands, n_planes) — keys from a different plane geometry can never
    collide with the stored ones, so a geometry change against an
    existing store fails loudly exactly like the text path.
    ``threshold`` and ``cand_planes`` are NOT stamped: they gate only
    the in-batch candidate/verify pass, so tuning them on restart is
    legitimate and must not demand a full re-dedup.  Vector WIDTH is
    stamped separately with the OBSERVED width of the first batch
    (``_dedup_width.json``, validated every batch): the plane grid is
    width-sized, so a restart against the same store with a different
    encoder width would silently re-admit every stored near-duplicate —
    declaring ``dim`` additionally makes the per-batch ragged check
    absolute, but the width guard does not depend on it."""
    _check_store_config(
        spark,
        store_dir,
        expected={
            "kind": "embedding_lsh",
            "n_bands": n_bands,
            "n_planes": n_planes,
        },
    )

    from .stream import start_foreach_batch_stream, stream_embeddings

    def dedup_fn(batch_df: DataFrame, store: DataFrame):
        first = batch_df.select(
            "vec_id", F.size("embedding").alias("w")
        ).first()
        observed = first["w"] if first is not None else None
        if observed is None or observed <= 0:
            # a NULL/empty first embedding must not poison the width stamp
            # (a stamped dim=-1 would fail every later valid batch until
            # the stamp is hand-deleted) — fail loudly, naming the culprit,
            # exactly like embedding_band_keys does for ragged rows
            raise ValueError(
                "embedding width probe: first row "
                f"(vec_id {None if first is None else first['vec_id']}) has "
                f"null/empty embedding (size {observed}) — fix or filter "
                "the input before streaming it"
            )
        _check_store_config(
            spark, store_dir,
            expected={"dim": int(observed)},
            stamp_file=STORE_WIDTH_FILE,
        )
        return dedup_batch_embeddings(
            batch_df, store, n_bands, n_planes, threshold,
            cand_planes=cand_planes, dim=dim,
        )

    process_batch = _make_process_batch(
        spark, dedup_fn, survivors_dir, store_dir, compact_every,
    )
    return start_foreach_batch_stream(
        stream_embeddings(spark, input_dir, max_files_per_trigger),
        process_batch, checkpoint_dir, available_now,
    )
