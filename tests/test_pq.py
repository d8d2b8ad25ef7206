"""Product-quantization kernels (operators/similarity.py PQ section).

The driver-visible guarantee is `ann_lsh_buckets`' kernel='fast' arm
matching the expression-arm oracle SQL; these tests pin the pieces that
make that hold — exact expr/fast agreement on real data, the codebook
contract, and the argument guards — so a kernel regression fails here
with a named cause instead of as an opaque oracle hash mismatch.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from docling_ocr_qwen3vl_spark.operators.similarity import (
    PQ_CENTROIDS,
    PQ_J_MULT,
    PQ_K_MULT,
    PQ_M,
    PQ_S_MULT,
    pq_encode,
)

def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def test_expr_and_fast_kernels_agree_exactly(spark, sf_dir):
    """Same codes AND same 6dp reconstruction errors on the real gate
    table — the property the shared oracle SQL certifies driver-side."""
    emb = _emb(spark, sf_dir)
    expr = {
        r["vec_id"]: (r["pq_code"], r["recon_err"])
        for r in pq_encode(emb).select("vec_id", "pq_code", "recon_err").collect()
    }
    fast = {
        r["vec_id"]: (r["pq_code"], r["recon_err"])
        for r in pq_encode(emb, fast=True).collect()
    }
    assert expr.keys() == fast.keys() and len(expr) > 0
    assert expr == fast


def test_codes_shape_and_range(spark, sf_dir):
    rows = pq_encode(_emb(spark, sf_dir), fast=True).limit(50).collect()
    assert rows
    for r in rows:
        parts = r["pq_code"].split("-")
        assert len(parts) == PQ_M
        assert all(0 <= int(p) < PQ_CENTROIDS for p in parts)
        assert r["recon_err"] >= 0.0


def test_fast_kernel_matches_hand_computed_codebook(spark, sf_dir):
    """One vector, codes recomputed in straight numpy from the published
    grid constants — pins the (s, j, k) -> weight layout against an
    accidental index transposition in either kernel."""
    row = pq_encode(_emb(spark, sf_dir).filter(F.col("vec_id") == 0), fast=True).first()
    v = np.array(_emb(spark, sf_dir).filter(F.col("vec_id") == 0).first()["v"])
    m, nc, sub = PQ_M, PQ_CENTROIDS, len(v) // PQ_M
    expected = []
    for s in range(m):
        dists = []
        for j in range(nc):
            d = 0.0
            for k in range(sub):
                c = ((s * PQ_S_MULT + j * PQ_J_MULT + k * PQ_K_MULT) % 1000 - 500) / 1000.0
                d += (v[s * sub + k] - c) * (v[s * sub + k] - c)
            dists.append(d)
        expected.append(int(np.argmin(dists)))
    assert row["pq_code"] == "-".join(str(c) for c in expected)


def test_dim_not_divisible_raises(spark, sf_dir):
    with pytest.raises(ValueError, match="not divisible"):
        pq_encode(_emb(spark, sf_dir), dim=60)


def test_fast_kernel_rejects_wrong_dim(spark, sf_dir):
    df = spark.createDataFrame(
        [(1, [0.1] * 8)], "vec_id long, v array<double>"
    )
    with pytest.raises(Exception, match="expected dim"):
        pq_encode(df, fast=True).collect()


def test_pq_adc_code_kernels_agree(spark, sf_dir):
    """pq_adc_topk's `fast` flag only swaps the code-generation kernel;
    the ranked output must be identical either way (the driver arm runs
    fast=True against the declarative oracle, which models expr codes)."""
    emb = _emb(spark, sf_dir)
    from docling_ocr_qwen3vl_spark.operators.similarity import pq_adc_topk

    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)

    def rows(fast):
        return sorted(
            (r["q_id"], r["rank"], r["n_id"], r["cosine"])
            for r in pq_adc_topk(corpus, queries, fast=fast).collect()
        )

    a, b = rows(False), rows(True)
    assert a == b and len(a) == 30  # 10 queries x top-3


def test_pq_adc_fast_scan_matches_expression_scan(spark, sf_dir):
    """The numpy cogroup ADC kernel (fast_scan) must reproduce the
    element_at expression plan exactly — same winners, ranks, cosines —
    the claim its driver arm makes against the shared oracle SQL."""
    emb = _emb(spark, sf_dir)
    from docling_ocr_qwen3vl_spark.operators.similarity import pq_adc_topk

    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)

    def rows(**kw):
        return sorted(
            (r["q_id"], r["rank"], r["n_id"], r["cosine"])
            for r in pq_adc_topk(corpus, queries, **kw).collect()
        )

    assert rows(fast=True) == rows(fast_scan=True)


def test_kernel_flag_never_changes_schema(spark, sf_dir):
    """fast=True must return the SAME columns (names, order, types) as the
    expression kernel — including the vector column — so a caller that
    chains on vec_col works under either flag (review finding r5)."""
    emb = _emb(spark, sf_dir)
    expr_schema = pq_encode(emb).schema
    fast_schema = pq_encode(emb, fast=True).schema
    assert [f.name for f in fast_schema.fields] == [
        f.name for f in expr_schema.fields
    ]
    # and the vector column stays usable downstream under the fast kernel
    n = (
        pq_encode(emb, fast=True)
        .select("vec_id", "pq_code", F.size("v").alias("d"))
        .filter(F.col("d") == 64)
        .count()
    )
    assert n == emb.count()


def test_ivf_pq_fast_scan_matches_expression_scan(spark, sf_dir):
    """The composed IVF-PQ volume path (numpy cell assign + PQ encode +
    (cell, salt)-cogroup ADC gather) must reproduce the expression plan
    exactly — same winners, ranks, cosines — at both probe depths."""
    from docling_ocr_qwen3vl_spark.operators.similarity import ivf_pq_topk

    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)

    for n_probe in (1, 2):
        def rows(**kw):
            return sorted(
                (r["q_id"], r["n_id"], r["rank"], r["cosine"])
                for r in ivf_pq_topk(
                    corpus, queries, n_probe=n_probe, **kw
                ).collect()
            )

        expr = rows()
        fast = rows(fast=True, fast_scan=True)
        assert expr == fast and len(expr) == 30  # 10 queries x top-3


def test_ivf_pq_candidates_stay_in_probed_cells(spark, sf_dir):
    """Every IVF-PQ neighbour must live in one of its query's n_probe
    nearest cells — the inverted-list restriction that gives the
    n_cells/n_probe scan cut (and distinguishes it from pq_adc_topk's
    full code scan)."""
    from docling_ocr_qwen3vl_spark.operators.similarity import (
        assign_ivf_cells,
        ivf_pq_topk,
        ivf_probe_cells,
    )

    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    cells = {
        r["vec_id"]: r["cell"] for r in assign_ivf_cells(corpus).collect()
    }
    probes = {
        r["vec_id"]: r["p"]
        for r in queries.select(
            "vec_id", ivf_probe_cells(F.col("v"), n_probe=2).alias("p")
        ).collect()
    }
    out = ivf_pq_topk(corpus, queries, n_probe=2).collect()
    assert len(out) == 30
    for r in out:
        assert cells[r["n_id"]] in probes[r["q_id"]]


def _trained_quantizers(emb):
    """Deterministic stand-ins for TRAINED quantizers, built from real
    corpus vectors (so they sit in-distribution, like a k-means/PQ
    training pass would produce): 4 IVF centroids = vectors 20..23;
    codebook entry (s, j) = subvector s of vector 30+j."""
    import numpy as np

    rows = {
        r["vec_id"]: r["v"]
        for r in emb.filter(F.col("vec_id") < 50).collect()
    }
    centroids = [rows[20 + j] for j in range(4)]
    codebook = np.stack(
        [
            np.array([rows[30 + j][s * 8:(s + 1) * 8] for j in range(16)])
            for s in range(PQ_M)
        ]
    )
    return centroids, codebook


def test_pq_encode_trained_codebook_kernels_agree(spark, sf_dir):
    """pq_encode with an explicit (trained) codebook: the unrolled-literal
    expression kernel and the numpy kernel must produce identical codes
    and 6dp errors — the same contract the grid kernels carry."""
    emb = _emb(spark, sf_dir)
    _, codebook = _trained_quantizers(emb)
    expr = {
        r["vec_id"]: (r["pq_code"], r["recon_err"])
        for r in pq_encode(emb, codebook=codebook)
        .select("vec_id", "pq_code", "recon_err")
        .collect()
    }
    fast = {
        r["vec_id"]: (r["pq_code"], r["recon_err"])
        for r in pq_encode(emb, codebook=codebook, fast=True)
        .select("vec_id", "pq_code", "recon_err")
        .collect()
    }
    assert expr == fast and len(expr) > 0
    # and a trained codebook actually changes the assignment vs the grid
    grid = {
        r["vec_id"]: r["pq_code"]
        for r in pq_encode(emb).select("vec_id", "pq_code").collect()
    }
    assert any(grid[k] != expr[k][0] for k in grid)


def test_pq_encode_rejects_bad_codebook_shape(spark, sf_dir):
    with pytest.raises(ValueError, match="codebook shape"):
        pq_encode(_emb(spark, sf_dir), codebook=[[[0.0] * 4] * 16] * 8)


def test_ivf_pq_trained_quantizers_kernels_agree(spark, sf_dir):
    """The full IVF-PQ stack under TRAINED quantizers (explicit centroids
    + explicit codebook): expression and numpy arms must agree exactly,
    and every neighbour must come from its query's probed cells under
    THOSE centroids — the production swap-in the grid stands in for."""
    from docling_ocr_qwen3vl_spark.operators.similarity import (
        _argmin_cell_raw,
        _probe_cells_raw,
        ivf_pq_topk,
    )

    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    centroids, codebook = _trained_quantizers(emb)

    def rows(**kw):
        return sorted(
            (r["q_id"], r["n_id"], r["rank"], r["cosine"])
            for r in ivf_pq_topk(
                corpus, queries, n_probe=2,
                centroids=centroids, codebook=codebook, **kw
            ).collect()
        )

    expr = rows()
    fast = rows(fast=True, fast_scan=True)
    assert expr == fast and len(expr) == 30

    cells = {
        r["vec_id"]: r["cell"]
        for r in corpus.select(
            "vec_id", _argmin_cell_raw(F.col("v"), centroids).alias("cell")
        ).collect()
    }
    probes = {
        r["vec_id"]: r["p"]
        for r in queries.select(
            "vec_id", _probe_cells_raw(F.col("v"), centroids, 2).alias("p")
        ).collect()
    }
    for q_id, n_id, _, _ in expr:
        assert cells[n_id] in probes[q_id]


def test_train_pq_codebook_zero_iterations_is_the_grid(spark, sf_dir):
    from docling_ocr_qwen3vl_spark.operators.similarity import (
        _pq_codebook_np,
        train_pq_codebook,
    )

    C = train_pq_codebook(_emb(spark, sf_dir), iterations=0)
    assert np.array_equal(C, _pq_codebook_np(PQ_M, PQ_CENTROIDS, 8))


def test_train_pq_codebook_reduces_quantization_error(spark, sf_dir):
    """Lloyd from the grid init must not increase total quantization
    error on the training set — and on real data it strictly improves.
    Also pins bit-reproducibility: two independent training runs return
    the identical codebook (the exact-integer-sum design)."""
    from docling_ocr_qwen3vl_spark.operators.similarity import train_pq_codebook

    emb = _emb(spark, sf_dir)
    trained = train_pq_codebook(emb, iterations=2)
    again = train_pq_codebook(emb, iterations=2)
    assert np.array_equal(trained, again)

    def mean_err(codebook):
        return (
            pq_encode(emb, codebook=codebook, fast=True)
            .agg(F.avg("recon_err").alias("e"))
            .first()["e"]
        )

    grid_err = (
        pq_encode(emb, fast=True).agg(F.avg("recon_err").alias("e")).first()["e"]
    )
    assert mean_err(trained) < grid_err


def test_full_trained_ivf_pq_loop(spark, sf_dir):
    """The complete in-repo train -> search loop: IVF centroids from
    kmeans_refined_centroids, PQ codebook from train_pq_codebook, both
    fed to ivf_pq_topk — expression and numpy arms agree exactly on the
    trained quantizers."""
    from docling_ocr_qwen3vl_spark.operators.similarity import (
        ivf_pq_topk,
        kmeans_refined_centroids,
        train_pq_codebook,
    )

    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    centroids = kmeans_refined_centroids(corpus)
    codebook = train_pq_codebook(corpus)

    def rows(**kw):
        return sorted(
            (r["q_id"], r["n_id"], r["rank"], r["cosine"])
            for r in ivf_pq_topk(
                corpus, queries, n_probe=2,
                centroids=centroids, codebook=codebook, **kw
            ).collect()
        )

    expr = rows()
    fast = rows(fast=True, fast_scan=True)
    assert expr == fast and len(expr) == 30


def test_train_pq_codebook_rejects_short_vectors(spark, sf_dir):
    """A corpus whose vectors don't match ``dim`` must fail LOUDLY with a
    NAMED error: without the guards numpy would read a NULL argmin cell
    as np.newaxis and silently broadcast one mean over a whole subspace
    (review finding r5)."""
    from docling_ocr_qwen3vl_spark.operators.similarity import train_pq_codebook

    short = spark.createDataFrame(
        [(i, [0.1 * i] * 32) for i in range(4)], "vec_id long, v array<double>"
    )
    with pytest.raises(ValueError, match="expected dim"):
        train_pq_codebook(short, dim=64)
    # ragged/null vectors pass the first()-probe but must hit the
    # NULL-cell guard instead of corrupting the codebook
    nulls = spark.createDataFrame(
        [(0, [0.1] * 64), (1, [None] * 64)], "vec_id long, v array<double>"
    )
    with pytest.raises(ValueError, match="NULL cell assignment"):
        train_pq_codebook(nulls, dim=64)


def test_ivf_pq_rejects_wrong_dim_centroids(spark, sf_dir):
    """Wrong-dimension centroids previously made the expression arm
    return an EMPTY result with no error (zip_with null-pads -> every
    cell NULL -> zero join candidates) while the fast arm crashed; both
    now fail loudly and identically at call time."""
    from docling_ocr_qwen3vl_spark.operators.similarity import ivf_pq_topk

    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    bad = [[0.0] * 32 for _ in range(4)]
    for kw in ({}, {"fast": True, "fast_scan": True}):
        with pytest.raises(ValueError, match="centroids must be"):
            ivf_pq_topk(corpus, queries, centroids=bad, **kw)


def test_kmeans_refined_centroids_needs_no_ids(spark, sf_dir):
    """Centroid training consumes only vectors; an id-less projection
    (the natural training-sample shape) must work (review finding r5)."""
    from docling_ocr_qwen3vl_spark.operators.similarity import (
        kmeans_refined_centroids,
    )

    emb = _emb(spark, sf_dir)
    with_ids = kmeans_refined_centroids(emb)
    without = kmeans_refined_centroids(emb.select("v"))
    assert with_ids == without and len(without) == 8


def test_ivf_knn_trained_centroids_kernels_agree(spark, sf_dir):
    """ivf_knn under explicit trained centroids, matching ivf_pq_topk's
    contract: expression and cogroup-matmul arms agree exactly, and the
    exact-cosine scoring is unchanged (centroids only move the candidate
    pruning)."""
    from docling_ocr_qwen3vl_spark.operators.similarity import (
        ivf_knn,
        kmeans_refined_centroids,
    )

    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    centroids = kmeans_refined_centroids(corpus)

    def rows(fast):
        return sorted(
            (r["q_id"], r["n_id"], r["rank"], r["cosine"])
            for r in ivf_knn(
                corpus, queries, n_probe=2, fast=fast, centroids=centroids
            ).collect()
        )

    expr = rows(False)
    fast = rows(True)
    assert expr == fast and len(expr) == 30


def test_topk_by_mostly_nan_key_matches_lexsort():
    """With fewer than ``take`` non-NaN keys the argpartition threshold is
    NaN; _topk_by must still return its documented
    np.lexsort((n_ids, key))[:take] — all ``take`` indices — or the ADC
    cogroup's per-query output arrays fall out of step."""
    from docling_ocr_qwen3vl_spark.operators.similarity import _topk_by

    key = np.full(20, np.nan)
    key[[3, 7, 11, 15]] = [0.5, 0.1, 0.5, -2.0]
    n_ids = np.arange(120, 100, -1)
    for take in (3, 4, 5, 12):
        np.testing.assert_array_equal(
            _topk_by(key, n_ids, take), np.lexsort((n_ids, key))[:take]
        )
