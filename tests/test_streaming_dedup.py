"""Streaming incremental dedup: in-batch + cross-batch near-dup filtering
over a file-source stream with an exactly-once signature store.

Drops three document files (one micro-batch each at maxFilesPerTrigger=1):
batch 1 carries an internal near-dup pair, batch 2 a cross-batch near-dup
of a batch-1 survivor, batch 3 (a RESTARTED stream on the same checkpoint)
a near-dup of a batch-2 survivor — so the test pins in-batch dedup,
store-lookup dedup, and checkpoint-resumed store growth in one flow."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from docling_ocr_qwen3vl_spark.streaming.incremental_dedup import (
    dedup_batch,
    melt_band_keys,
    read_signature_store,
    start_incremental_dedup_stream,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while seven wizards "
    "brew strong potions under a pale winter moon near the old stone bridge"
)
OTHER = (
    "completely different subject matter entirely about numerical linear "
    "algebra kernels cache blocking vectorization and memory bandwidth "
    "ceilings on modern hardware platforms"
)
THIRD = (
    "a third unrelated document describing medieval trade routes salt "
    "roads river barges toll bridges and the merchants guilds that ran "
    "them across the continent for centuries"
)


def _write_batch(spark, input_dir, name, rows):
    # the file stream watches input_dir itself (not nested dirs): write to
    # a scratch dir, then drop the single part file in as <name>.parquet
    import glob
    import shutil
    import tempfile

    df = spark.createDataFrame(
        [(i, t, "en", "stream", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    scratch = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(scratch)
    part = glob.glob(os.path.join(scratch, "part-*.parquet"))[0]
    shutil.move(part, os.path.join(input_dir, f"{name}.parquet"))
    shutil.rmtree(scratch, ignore_errors=True)


def _run(spark, dirs):
    q = start_incremental_dedup_stream(
        spark,
        input_dir=dirs["in"],
        survivors_dir=dirs["out"],
        store_dir=dirs["store"],
        checkpoint_dir=dirs["ckpt"],
    )
    q.awaitTermination(300)


def _survivor_ids(spark, out_dir):
    return sorted(
        r.doc_id for r in spark.read.parquet(out_dir).select("doc_id").collect()
    )


@pytest.fixture()
def dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("in", "out", "store", "ckpt")}
    os.makedirs(d["in"])
    return d


def test_incremental_dedup_stream_end_to_end(spark, dirs):
    # batch 1: doc 1 and near-dup doc 2 (in-batch), doc 3 distinct
    _write_batch(spark, dirs["in"], "b1", [
        (1, BASE), (2, BASE + " zz qq"), (3, OTHER),
    ])
    _run(spark, dirs)
    assert _survivor_ids(spark, dirs["out"]) == [1, 3]

    # batch 2 (new stream run, same checkpoint): doc 4 is a near-dup of
    # ACCEPTED doc 1 -> dropped by the store lookup; doc 5 distinct
    _write_batch(spark, dirs["in"], "b2", [
        (4, BASE + " qq zz"), (5, THIRD),
    ])
    _run(spark, dirs)
    assert _survivor_ids(spark, dirs["out"]) == [1, 3, 5]

    # batch 3: near-dup of batch-2 survivor 5 -> the store grew across
    # the restart; doc 7 genuinely distinct survives (an appended-tail
    # variant of doc 3 would be CORRECTLY dropped — that is a near-dup)
    fourth = (
        "yet another standalone topic covering tidal marsh ecology the "
        "migratory birds that feed there and the sediment cycles shaping "
        "the estuary over seasonal floods"
    )
    _write_batch(spark, dirs["in"], "b3", [
        (6, THIRD + " zz qq"), (7, fourth),
    ])
    _run(spark, dirs)
    survivors = _survivor_ids(spark, dirs["out"])
    assert 6 not in survivors and 7 in survivors
    assert survivors == [1, 3, 5, 7]

    # store holds band keys for every accepted doc, partitioned by batch
    store = spark.read.parquet(dirs["store"])
    assert store.select("band_key").distinct().count() > 0
    assert store.select("batch_id").distinct().count() >= 3


def test_retry_excludes_own_partial_store_write(spark, dirs):
    """A retried batch must not collide with its own failed attempt: the
    store lookup excludes the current batch_id partition."""
    _write_batch(spark, dirs["in"], "b1", [(1, BASE), (2, OTHER)])
    # simulate a failed attempt of batch 7 that already wrote its keys
    df = spark.createDataFrame(
        [(1, BASE, "en", "s", len(BASE))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    _, keys = dedup_batch(df, read_signature_store(spark, dirs["store"]))
    keys.write.mode("overwrite").parquet(
        os.path.join(dirs["store"], "batch_id=7")
    )
    # the retry of batch 7 sees a store WITHOUT its own partial keys
    store_for_retry = read_signature_store(spark, dirs["store"], exclude_batch_id=7)
    assert store_for_retry.count() == 0
    survivors, _ = dedup_batch(df, store_for_retry)
    assert [r.doc_id for r in survivors.collect()] == [1]
    # but a DIFFERENT batch does see those keys
    store_for_next = read_signature_store(spark, dirs["store"], exclude_batch_id=8)
    assert store_for_next.count() > 0


FOURTH = (
    "yet another standalone topic covering tidal marsh ecology the "
    "migratory birds that feed there and the sediment cycles shaping "
    "the estuary over seasonal floods"
)
FIFTH = (
    "finally a treatise on baroque counterpoint voice leading figured "
    "bass realization and the ornamentation conventions of keyboard "
    "suites in the early eighteenth century"
)


def _store_partition_dirs(store_dir):
    import glob

    return sorted(
        int(p.rsplit("=", 1)[1])
        for p in glob.glob(os.path.join(store_dir, "batch_id=*"))
    )


def test_store_compaction_bounds_file_count(spark, tmp_path):
    """With compact_every=2, the store's partition-directory count stays
    bounded (consolidated segment + at most compact_every open batches)
    across 7 micro-batches, survivors are IDENTICAL to an uncompacted
    run over the same drops, and near-dups of docs whose partitions were
    folded away are still caught via the consolidated segment."""
    din = tmp_path / "in"
    din.mkdir()
    runs = {
        "compacted": {"compact_every": 2},
        "plain": {"compact_every": None},
    }
    for name in runs:
        for k in ("out", "store", "ckpt"):
            (tmp_path / name / k).parent.mkdir(exist_ok=True)
    batches = [
        [(10, BASE)],
        [(20, OTHER)],
        [(30, THIRD)],                  # compaction folds batches 0-1
        [(40, BASE + " zz qq")],        # near-dup of FOLDED batch-0 doc
        [(50, FOURTH)],                 # compaction folds {-2, 2, 3}
        [(60, OTHER + " qq zz")],       # near-dup of folded batch-1 doc
        [(70, FIFTH)],                  # compaction folds {-4, 4, 5}
    ]
    for b, rows in enumerate(batches):
        _write_batch(spark, str(din), f"b{b}", rows)
        for name, opts in runs.items():
            q = start_incremental_dedup_stream(
                spark,
                input_dir=str(din),
                survivors_dir=str(tmp_path / name / "out"),
                store_dir=str(tmp_path / name / "store"),
                checkpoint_dir=str(tmp_path / name / "ckpt"),
                **opts,
            )
            assert q.awaitTermination(300)

    expected = [10, 20, 30, 50, 70]
    assert _survivor_ids(spark, str(tmp_path / "compacted" / "out")) == expected
    assert _survivor_ids(spark, str(tmp_path / "plain" / "out")) == expected

    plain_dirs = _store_partition_dirs(str(tmp_path / "plain" / "store"))
    compact_dirs = _store_partition_dirs(str(tmp_path / "compacted" / "store"))
    assert plain_dirs == list(range(7))  # one dir per micro-batch, forever
    # last compaction ran inside batch 6: everything below folded into -6
    assert compact_dirs == [-6, 6]


def test_compact_signature_store_idempotent_retry(spark, tmp_path):
    """A retry that finds the consolidated segment already renamed into
    place must NOT recompute it from the (possibly partially deleted)
    sources — it only deletes the leftovers.  And a second call with
    nothing left to fold is a no-op."""
    from docling_ocr_qwen3vl_spark.streaming.incremental_dedup import (
        compact_signature_store,
    )

    store = str(tmp_path / "store")

    def write_keys(bid, keys):
        spark.createDataFrame([(k,) for k in keys], "band_key string").write.mode(
            "overwrite"
        ).parquet(os.path.join(store, f"batch_id={bid}"))

    write_keys(0, ["0:aa", "1:bb"])
    write_keys(1, ["0:cc"])
    # simulate a prior attempt that renamed the consolidated segment into
    # place, wrote its completeness marker (deletes only ever start AFTER
    # the marker exists), then crashed mid-delete: batch 0's keys live
    # ONLY in -2 now
    write_keys(-2, ["0:aa", "1:bb", "0:cc"])
    import json
    import shutil

    with open(os.path.join(store, "batch_id=-2", "_folded"), "w") as f:
        json.dump({"sources": [0, 1]}, f)
    shutil.rmtree(os.path.join(store, "batch_id=0"))

    assert compact_signature_store(spark, store, 2) == 1  # deletes leftover 1
    assert _store_partition_dirs(store) == [-2]
    got = {
        r.band_key
        for r in spark.read.parquet(os.path.join(store, "batch_id=-2")).collect()
    }
    assert got == {"0:aa", "1:bb", "0:cc"}  # nothing recomputed away
    assert compact_signature_store(spark, store, 2) == 0  # no-op now


def test_compact_discards_markerless_partial_segment(spark, tmp_path):
    """A consolidated segment WITHOUT its completeness marker, next to a
    still-present rename source, is a crashed mid-rename artifact
    (object-store directory rename is a non-atomic copy+delete): it may be
    missing keys, so a retry must discard it and recompute from the
    still-intact sources instead of trusting it and deleting them — the
    silent-key-loss path the marker exists to close."""
    import json

    from docling_ocr_qwen3vl_spark.streaming.incremental_dedup import (
        compact_signature_store,
    )

    store = str(tmp_path / "store")

    def write_keys(bid, keys):
        spark.createDataFrame([(k,) for k in keys], "band_key string").write.mode(
            "overwrite"
        ).parquet(os.path.join(store, f"batch_id={bid}"))

    write_keys(0, ["0:aa", "1:bb"])
    write_keys(1, ["0:cc"])
    # partial copy from a crashed rename: one key missing, NO marker, and
    # the rename's source still in place
    write_keys(-2, ["0:aa"])
    spark.createDataFrame(
        [(k,) for k in ("0:aa", "1:bb", "0:cc")], "band_key string"
    ).write.parquet(os.path.join(store, "_compact_tmp"))

    assert compact_signature_store(spark, store, 2) == 2
    assert _store_partition_dirs(store) == [-2]
    got = {
        r.band_key
        for r in spark.read.parquet(os.path.join(store, "batch_id=-2")).collect()
    }
    assert got == {"0:aa", "1:bb", "0:cc"}  # recomputed, nothing lost
    with open(os.path.join(store, "batch_id=-2", "_folded")) as f:
        assert json.load(f)["sources"] == [0, 1]


def _store_keys(spark, store):
    rows = [r.band_key for r in spark.read.parquet(store).collect()]
    assert len(rows) == len(set(rows)), "duplicate band keys in the store"
    return set(rows)


def test_compact_keeps_markerless_segment_once_rename_finished(spark, tmp_path):
    """A segment with no marker but no rename source left is complete: an
    older version wrote no marker, then crashed mid-delete.  The retry must
    keep it (writing the marker) even though only one source survives —
    recomputing from that source alone would lose batch 0's keys."""
    from docling_ocr_qwen3vl_spark.streaming.incremental_dedup import (
        compact_signature_store,
    )

    store = str(tmp_path / "store")

    def write_keys(bid, keys):
        spark.createDataFrame([(k,) for k in keys], "band_key string").write.mode(
            "overwrite"
        ).parquet(os.path.join(store, f"batch_id={bid}"))

    write_keys(1, ["0:cc"])
    write_keys(-2, ["0:aa", "1:bb", "0:cc"])  # batch 0 already deleted

    assert compact_signature_store(spark, store, 2) == 1
    assert _store_partition_dirs(store) == [-2]
    assert os.path.exists(os.path.join(store, "batch_id=-2", "_folded"))
    assert _store_keys(spark, store) == {"0:aa", "1:bb", "0:cc"}


def test_compact_crash_between_rename_and_marker_keeps_segment(
    spark, tmp_path, monkeypatch
):
    """Kill the compaction after the rename, before the marker write.  The
    retry keeps the renamed segment as is (same data files), drops the
    sources, and the store neither loses nor duplicates a key."""
    from docling_ocr_qwen3vl_spark.streaming import incremental_dedup

    store = str(tmp_path / "store")

    def write_keys(bid, keys):
        spark.createDataFrame([(k,) for k in keys], "band_key string").write.mode(
            "overwrite"
        ).parquet(os.path.join(store, f"batch_id={bid}"))

    write_keys(0, ["0:aa", "1:bb"])
    write_keys(1, ["0:cc", "0:aa"])  # "0:aa" in both sources

    class Killed(Exception):
        pass

    class CrashOnMarker:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def create(self, path, overwrite):
            raise Killed(str(path))

    real_store_fs = incremental_dedup._store_fs

    def crashing_store_fs(*args):
        jvm, fs = real_store_fs(*args)
        return jvm, CrashOnMarker(fs)

    monkeypatch.setattr(incremental_dedup, "_store_fs", crashing_store_fs)
    with pytest.raises(Killed, match="_folded"):
        incremental_dedup.compact_signature_store(spark, store, 2)
    monkeypatch.undo()

    segment = os.path.join(store, "batch_id=-2")
    assert _store_partition_dirs(store) == [-2, 0, 1]
    assert not os.path.exists(os.path.join(store, "_compact_tmp"))
    assert not os.path.exists(os.path.join(segment, "_folded"))
    files = sorted(f for f in os.listdir(segment) if f.startswith("part-"))

    assert incremental_dedup.compact_signature_store(spark, store, 2) == 2
    assert _store_partition_dirs(store) == [-2]
    assert sorted(f for f in os.listdir(segment) if f.startswith("part-")) == files
    with open(os.path.join(segment, "_folded")) as f:
        assert json.load(f)["sources"] == [0, 1]
    assert _store_keys(spark, store) == {"0:aa", "1:bb", "0:cc"}


def test_dedup_survivors_query_has_streaming_arm(spark):
    """The registered dedup_survivors query carries BOTH execution modes:
    the batch pipeline and the availableNow streaming replay (driver-gated
    against a DuckDB oracle that computes the streaming micro-batch
    semantics declaratively — this test pins the cheap structural facts)."""
    from docling_ocr_qwen3vl_spark.queries import q_dedup_survivors

    df = q_dedup_survivors(spark, "/root/testdata/sf0.001")
    by_mode: dict[str, set] = {}
    for r in df.collect():
        by_mode.setdefault(r["mode"], set()).add(r["doc_id"])
    assert set(by_mode) == {"batch", "streaming", "embedding_streaming"}
    # every arm deduplicated a corpus that holds one planted near-dup per
    # original: survivors must be nonempty and strictly fewer than the
    # 2x-corpus row count (originals + planted dups)
    n_docs = 2 * spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    n_vecs = 2 * spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").count()
    for mode, ids in by_mode.items():
        bound = n_vecs if mode == "embedding_streaming" else n_docs
        assert 0 < len(ids) < bound, mode
        assert all(i >= 0 for i in ids), mode


def test_melt_band_keys_shape(spark):
    sigs = spark.createDataFrame(
        [(1, "aa", "bb")], "doc_id long, band0 string, band1 string"
    )
    got = {(r.doc_id, r.band_key) for r in melt_band_keys(sigs).collect()}
    assert got == {(1, "0:aa"), (1, "1:bb")}


def test_transitive_chain_contaminates_whole_component(spark):
    """Band collision is not transitive: Y shares a band with X but none
    with accepted A, while X shares one with A.  Global dedup connects
    Y~X~A into one component, so BOTH X and Y must drop — a
    representatives-only store check would accept Y (it is the component
    rep: min doc_id).  Fixture overlaps verified at k=8/2 bands:
    X∩A=1, Y∩X=1, Y∩A=0 band keys."""
    X = BASE + " zz qq"
    Y = BASE.replace("winter", "summer") + " zz qq"

    def mk(rows):
        return spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )

    # batch 1 accepts A; its band keys become the store
    _, keys_a = dedup_batch(mk([(1, BASE)]), read_signature_store(spark, "/nonexistent"))
    store = keys_a.localCheckpoint(eager=True)
    # Y gets the smaller id -> Y is the component representative
    survivors, _ = dedup_batch(mk([(10, Y), (11, X)]), store)
    assert survivors.count() == 0  # the whole chain is a duplicate of A


def test_store_config_stamp_blocks_mismatched_restart(spark, tmp_path):
    from docling_ocr_qwen3vl_spark.config import ExtractConfig
    from docling_ocr_qwen3vl_spark.streaming.incremental_dedup import (
        _check_store_config,
    )

    store = str(tmp_path / "store")
    _check_store_config(spark, store, ExtractConfig(minhash_k=8, minhash_bands=2))
    # same config: idempotent
    _check_store_config(spark, store, ExtractConfig(minhash_k=8, minhash_bands=2))
    # different (k, bands): the stored band keys can never match -> loud
    with pytest.raises(ValueError, match="incompatible"):
        _check_store_config(
            spark, store, ExtractConfig(minhash_k=64, minhash_bands=8)
        )

    # an UNSTAMPED store that already holds batch data is never silently
    # adopted under the current config
    legacy = tmp_path / "legacy_store"
    (legacy / "batch_id=0").mkdir(parents=True)
    (legacy / "batch_id=0" / "part-0.parquet").write_text("x")
    with pytest.raises(ValueError, match="no _dedup_config.json"):
        _check_store_config(
            spark, str(legacy), ExtractConfig(minhash_k=8, minhash_bands=2)
        )


def test_store_read_failure_is_not_swallowed(spark, tmp_path):
    """Only a missing path (or a stamp-only dir) reads as the empty first
    store; a corrupt/non-parquet store_dir must raise, not silently
    disable cross-batch dedup."""
    bad = tmp_path / "store"
    bad.mkdir()
    (bad / "part-0000.parquet").write_text("this is not parquet")
    with pytest.raises(Exception):
        read_signature_store(spark, str(bad)).collect()
    # missing path -> empty store (the legitimate first-batch case)
    empty = read_signature_store(spark, str(tmp_path / "missing"))
    assert empty.count() == 0
    # a parquet dir that is not a signature store -> loud
    spark.range(3).write.parquet(str(tmp_path / "wrong"))
    with pytest.raises(ValueError, match="not a signature store"):
        read_signature_store(spark, str(tmp_path / "wrong"))


def test_empty_store_read_needs_no_parquet_scan(spark, tmp_path, monkeypatch):
    """The first-batch store is recognised from the directory listing, not
    from a failed parquet read: with the reader broken, a missing path and
    a stamp-only dir still read as the empty store."""
    from pyspark.sql.readwriter import DataFrameReader

    stamped = tmp_path / "stamped"
    stamped.mkdir()
    (stamped / "_dedup_config.json").write_text("{}")
    (stamped / ".hidden.crc").write_text("")

    def broken(self, *paths, **options):
        raise RuntimeError("parquet reader called for an empty store")

    monkeypatch.setattr(DataFrameReader, "parquet", broken)
    for path in (tmp_path / "missing", stamped):
        store = read_signature_store(spark, str(path), exclude_batch_id=0)
        assert store.columns == ["band_key"] and store.count() == 0


def test_crash_between_survivors_and_store_write_is_exactly_once(
    spark, tmp_path, monkeypatch
):
    """A batch that dies after its survivors write but before its store
    write is replayed on restart: survivors and store keys then equal an
    uninterrupted run over the same input files."""
    from docling_ocr_qwen3vl_spark.streaming import stream

    din = str(tmp_path / "in")
    os.makedirs(din)
    _write_batch(spark, din, "b0", [(1, BASE), (2, OTHER)])
    _write_batch(spark, din, "b1", [(3, THIRD), (4, OTHER + " qq zz")])
    _write_batch(spark, din, "b2", [(5, THIRD + " zz qq"), (6, FOURTH)])

    def start(name):
        d = {k: str(tmp_path / name / k) for k in ("out", "store", "ckpt")}
        q = start_incremental_dedup_stream(
            spark, input_dir=din, survivors_dir=d["out"],
            store_dir=d["store"], checkpoint_dir=d["ckpt"],
        )
        return d, q

    real = stream.write_batch_idempotent
    crashed = tmp_path / "crashed" / "store"

    def crash_on_store_write_of_batch_1(df, output_dir, batch_id):
        if batch_id == 1 and output_dir == str(crashed):
            raise RuntimeError("injected crash before the store write")
        real(df, output_dir, batch_id)

    monkeypatch.setattr(
        stream, "write_batch_idempotent", crash_on_store_write_of_batch_1
    )
    d, q = start("crashed")
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(300)
    # the crash hit after batch 1's survivors landed, before its keys did
    assert os.path.isdir(os.path.join(d["out"], "batch_id=1"))
    assert _store_partition_dirs(d["store"]) == [0]
    monkeypatch.setattr(stream, "write_batch_idempotent", real)
    _, q = start("crashed")
    assert q.awaitTermination(300)
    ref, q = start("uninterrupted")
    assert q.awaitTermination(300)

    def store_keys(store_dir):
        return sorted(
            (r.batch_id, r.band_key)
            for r in spark.read.parquet(store_dir).collect()
        )

    assert _survivor_ids(spark, d["out"]) == _survivor_ids(spark, ref["out"])
    assert _survivor_ids(spark, ref["out"]) == [1, 2, 3, 6]
    assert store_keys(d["store"]) == store_keys(ref["store"])


def test_replay_batch_key_separates_mutants_from_originals(spark):
    """The driver-gated replay's cross-batch guarantee rests on the batch
    key putting every mutant (doc_id + 1,000,000, an offset ≡ 0 mod 4) in
    a DIFFERENT batch than its original — a plain doc_id % 4 would
    collapse every planted pair in-batch and the oracle gate would keep
    passing while silently no longer testing the signature-store lookup.
    Pin: mutant batch == (original batch + 1) % 4, never equal."""
    from pyspark.sql import functions as F

    from docling_ocr_qwen3vl_spark.queries import _replay_batch_key

    ids = spark.range(100).select(F.col("id").alias("doc_id"))
    originals = ids.select("doc_id", _replay_batch_key().alias("b"))
    mutants = (
        ids.select((F.col("doc_id") + 1_000_000).alias("doc_id"))
        .select("doc_id", _replay_batch_key().alias("b"))
        .select((F.col("doc_id") - 1_000_000).alias("doc_id"), "b")
    )
    joined = originals.alias("o").join(mutants.alias("m"), "doc_id").select(
        F.col("o.b").alias("ob"), F.col("m.b").alias("mb")
    )
    rows = joined.collect()
    assert len(rows) == 100
    for r in rows:
        assert r.mb == (r.ob + 1) % 4, (r.ob, r.mb)


def test_hot_bucket_batch_gives_components_a_star(spark, monkeypatch):
    """A micro-batch of 2 000 identical docs against an empty store: the
    in-batch components get one edge per member (a star per band bucket),
    not the 1 999 000 pairs of the bucket clique, and exactly one doc
    survives.  Bounded by edge count, not wall time."""
    from docling_ocr_qwen3vl_spark.streaming import incremental_dedup

    n = 2000
    real, edges = incremental_dedup.dup_components, []

    def spy(ids, pairs, *args, **kwargs):
        edges.append(pairs.count())
        return real(ids, pairs, *args, **kwargs)

    monkeypatch.setattr(incremental_dedup, "dup_components", spy)
    batch = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(BASE).alias("text")
    )
    store = spark.createDataFrame([], incremental_dedup.STORE_SCHEMA)
    survivors, _ = dedup_batch(batch, store)
    assert len(edges) == 1 and edges[0] <= n, edges
    assert [r.doc_id for r in survivors.select("doc_id").collect()] == [0]
