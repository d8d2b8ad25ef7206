"""Streaming incremental near-dup filtering for the EMBEDDING modality
(streaming/incremental_dedup.py embedding section).

The text path's store machinery (exactly-once per-batch outputs, config
stamp, compaction) is key-agnostic; these tests pin that the sign-bucket
key kernel composes with it correctly: in-batch cosine-verified dedup,
cross-batch store-collision dedup across a stream RESTART, and the
loud-stamp-mismatch guard under the embedding config dict.

Vector construction is deterministic and collision-safe by design:
distinct docs are hash-derived full-range vectors screened to pairwise
band-disjointness through the real kernel; an in-batch dup is a 2x
scaling of its original (identical sign pattern in every band, cosine
exactly 1); a cross-batch dup is an exact copy.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from docling_ocr_qwen3vl_spark.streaming.incremental_dedup import (
    start_incremental_embedding_dedup_stream,
)

DIM = 16


def _vec(i: int, scale: float = 1.0):
    # deterministic HASH-derived vector (a linear-congruential generator
    # here would correlate with the kernel's linear-congruential plane
    # grid and band-collide half the candidate pairs): varied sign
    # patterns across vectors, near-zero pairwise cosine in expectation
    # (distinct vectors never pass the 0.95 verify), and scaling
    # preserves every hyperplane sign exactly
    import hashlib

    return [
        scale
        * (
            int(hashlib.md5(f"{i}:{k}".encode()).hexdigest()[:8], 16) % 1000
            - 500
        )
        / 500.0
        for k in range(DIM)
    ]


def _write_batch(spark, input_dir, name, rows):
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    scratch = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(scratch)
    part = glob.glob(os.path.join(scratch, "part-*.parquet"))[0]
    shutil.move(part, os.path.join(input_dir, f"{name}.parquet"))
    shutil.rmtree(scratch, ignore_errors=True)


def _run(spark, dirs, **kw):
    q = start_incremental_embedding_dedup_stream(
        spark,
        input_dir=dirs["in"],
        survivors_dir=dirs["out"],
        store_dir=dirs["store"],
        checkpoint_dir=dirs["ckpt"],
        **kw,
    )
    # a timed-out stream left running would make later assertions read a
    # partially-written survivors dir (and collide with the next run on
    # the same checkpoint) — fail HERE with the real cause instead
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("embedding dedup stream did not finish in 300s")


def _survivor_ids(spark, out_dir):
    return sorted(
        r.vec_id for r in spark.read.parquet(out_dir).select("vec_id").collect()
    )


@pytest.fixture()
def dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("in", "out", "store", "ckpt")}
    os.makedirs(d["in"])
    return d


def _disjoint_band_vectors(spark, n_needed):
    """Greedily pick candidate vectors whose band-key SETS are pairwise
    disjoint (computed through the real kernel, which is deterministic) —
    cross-vector band collisions are chance events the conservative
    drop semantics would legitimately act on, and this test pins the
    streaming mechanics, not the kernel's collision statistics."""
    from docling_ocr_qwen3vl_spark.streaming.incremental_dedup import (
        embedding_band_keys,
    )

    cands = [(i, _vec(i)) for i in range(48)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in cands],
        "vec_id long, embedding array<float>",
    )
    keys: dict[int, set] = {}
    for r in embedding_band_keys(df).collect():
        keys.setdefault(r["doc_id"], set()).add(r["band_key"])
    picked, used = [], set()
    for i, v in cands:
        if keys[i] & used:
            continue
        picked.append((i, v))
        used |= keys[i]
        if len(picked) == n_needed:
            return picked
    raise AssertionError("could not find enough band-disjoint vectors")


def test_embedding_dedup_stream_end_to_end(spark, dirs):
    vecs = _disjoint_band_vectors(spark, 5)
    (a_id, a), (b_id, b), (c_id, c), (d_id, d), (e_id, e) = vecs

    # batch 1: four band-disjoint vectors plus vec 100 = 2x of the first
    # — same sign pattern in every band AND cosine exactly 1.0, so the
    # in-batch cosine-verify keeps it a true pair; representative = min id
    _write_batch(
        spark, dirs["in"], "b1",
        [(a_id, a), (b_id, b), (c_id, c), (d_id, d),
         (100, [x * 2.0 for x in a])],
    )
    _run(spark, dirs)
    assert _survivor_ids(spark, dirs["out"]) == sorted([a_id, b_id, c_id, d_id])

    # batch 2 (new stream run, same checkpoint + store): vec 200 is an
    # EXACT copy of an accepted vector -> dropped by the store lookup
    # (conservative, unverified — the store holds keys, never vectors);
    # the fifth band-disjoint vector is new and survives
    _write_batch(
        spark, dirs["in"], "b2",
        [(200, d), (e_id, e)],
    )
    _run(spark, dirs)
    assert _survivor_ids(spark, dirs["out"]) == sorted(
        [a_id, b_id, c_id, d_id, e_id]
    )


def test_embedding_store_stamp_rejects_config_change(spark, dirs):
    _write_batch(spark, dirs["in"], "b1", [(0, _vec(0)), (1, _vec(1))])
    _run(spark, dirs)
    with pytest.raises(ValueError, match="band keys are incompatible"):
        start_incremental_embedding_dedup_stream(
            spark,
            input_dir=dirs["in"],
            survivors_dir=dirs["out"],
            store_dir=dirs["store"],
            checkpoint_dir=dirs["ckpt"],
            n_bands=2,
        )


def test_embedding_band_keys_band0_prefix_is_the_batch_bucket(spark, sf_dir):
    """Band 0 of the streaming key kernel uses planes 0..n_planes-1 of
    the SAME grid as the batch embedding_near_dup bucket (planes 0..7),
    so band 0's first 8 bits must BE that bucket — the property that
    makes stream and batch semantics comparable.  Also pins the widened
    default key width (EMBEDDING_N_PLANES bits per band — the key-space
    saturation fix)."""
    from docling_ocr_qwen3vl_spark.operators.similarity import (
        assign_buckets_fast,
    )
    from docling_ocr_qwen3vl_spark.streaming.incremental_dedup import (
        EMBEDDING_N_PLANES,
        embedding_band_keys,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).limit(200)
    buckets = {
        r["vec_id"]: r["bucket"]
        for r in assign_buckets_fast(emb, "v").collect()
    }
    band0 = {
        r["doc_id"]: r["band_key"]
        for r in embedding_band_keys(emb, vec_col="v")
        .filter(F.col("band_key").startswith("e0:"))
        .collect()
    }
    assert len(band0) == len(buckets) > 0
    for vid, bucket in buckets.items():
        assert len(band0[vid]) == 3 + EMBEDDING_N_PLANES
        assert band0[vid].startswith(f"e0:{bucket}")


def test_embedding_band_keys_reject_null_and_ragged(spark, sf_dir):
    """A null or wrong-width embedding must fail LOUDLY with the
    offending vec_ids named — an unguarded numpy error would wedge the
    stream on a permanently replayed batch (review finding r5)."""
    from docling_ocr_qwen3vl_spark.streaming.incremental_dedup import (
        embedding_band_keys,
    )

    bad = spark.createDataFrame(
        [(0, [0.1] * 16), (1, None), (2, [0.2] * 8)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="null or ragged"):
        embedding_band_keys(bad).collect()


def test_marginal_pair_caught_by_narrow_candidate_bands(spark, dirs):
    """The decoupled-geometry guarantee (review round-5): an in-batch
    pair at cosine ~0.955 that collides on an 8-bit candidate band but
    on NO 32-bit store band (pair found by deterministic search against
    the shared grid) must still be deduped — under a single 32-bit
    geometry the cosine verify would never see it and both would
    silently survive."""
    from docling_ocr_qwen3vl_spark.streaming.incremental_dedup import (
        dedup_batch_embeddings,
        embedding_band_keys,
        read_signature_store,
    )

    a = [0.574, -0.616, -0.758, 0.072, -0.154, -0.668, -0.914, -0.974,
         0.532, 0.156, -0.994, 0.766, -0.322, -0.722, 0.482, -0.66]
    b = [0.396908, -0.610517, -0.951432, 0.277827, -0.093639, -0.668626,
         -0.780831, -0.827739, 0.286778, -0.102399, -1.429229, 0.808531,
         -0.10065, -0.504044, 0.40578, -0.486198]
    df = spark.createDataFrame(
        [(1, [float(x) for x in a]), (2, [float(x) for x in b])],
        "vec_id long, embedding array<float>",
    )
    # pin the premise through the real kernel: some narrow band collides,
    # no wide band does
    def keysets(planes):
        out: dict[int, set] = {}
        for r in embedding_band_keys(df, n_planes=planes).collect():
            out.setdefault(r["doc_id"], set()).add(r["band_key"])
        return out

    narrow, wide = keysets(8), keysets(32)
    assert narrow[1] & narrow[2]
    assert not (wide[1] & wide[2])

    empty_store = read_signature_store(spark, dirs["store"])
    survivors, _ = dedup_batch_embeddings(df, empty_store)
    ids = sorted(r["vec_id"] for r in survivors.select("vec_id").collect())
    assert ids == [1]  # the pair formed, min-id representative kept


def test_width_drift_against_existing_store_fails_loudly(spark, dirs):
    """The observed-width stamp (review round-5): a restart against the
    same store with a DIFFERENT encoder width must fail loudly — the
    plane grid is width-sized, so drifted keys would silently re-admit
    every stored near-duplicate.  The guard uses the OBSERVED first-batch
    width, so it holds even at the default dim=None."""
    _write_batch(spark, dirs["in"], "b1", [(0, _vec(0)), (1, _vec(1))])
    _run(spark, dirs)

    wide = [(10, [0.1 * k for k in range(DIM * 2)])]
    _write_batch(spark, dirs["in"], "b2", wide)
    with pytest.raises(Exception, match="band keys are incompatible"):
        _run(spark, dirs)


def test_derived_candidate_keys_equal_kernel_keys(spark, sf_dir):
    """dedup_batch_embeddings derives the narrow candidate keys from the
    cached wide keys by substring when the geometries nest; the derived
    set must equal what the kernel computes directly at cand_planes —
    over the real gate corpus, not one constructed pair."""
    from docling_ocr_qwen3vl_spark.streaming.incremental_dedup import (
        EMBEDDING_CAND_PLANES,
        EMBEDDING_N_PLANES,
        embedding_band_keys,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).limit(200)
    wide = embedding_band_keys(emb, n_planes=EMBEDDING_N_PLANES, vec_col="v")
    wide0 = wide.filter(F.col("band_key").startswith("e0:"))
    derived = wide0.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"e{b}:"),
                        F.substring(
                            "band_key",
                            4 + b * EMBEDDING_CAND_PLANES,
                            EMBEDDING_CAND_PLANES,
                        ),
                    )
                    for b in range(4)
                ]
            )
        ).alias("band_key"),
    )
    direct = embedding_band_keys(
        emb, n_planes=EMBEDDING_CAND_PLANES, vec_col="v"
    )
    a = {(r["doc_id"], r["band_key"]) for r in derived.collect()}
    b = {(r["doc_id"], r["band_key"]) for r in direct.collect()}
    assert a == b and len(a) == 800  # 200 vectors x 4 bands
