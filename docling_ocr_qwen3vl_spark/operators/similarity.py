"""Similarity search over embedding columns (array<float>).

  * brute-force cosine top-k — the exactness baseline (queries.q_knn_bruteforce):
    broadcast the query vector, JVM-side zip_with/aggregate dot products,
    one top-k window.  At 100 TB this is a full scan — correct but O(N).
  * LSH-bucketed ANN — the scale path: random-hyperplane sign buckets
    (integer-derived planes, engine-portable and libm-free), candidates
    meet inside a bucket only.  Recall tunes with n_planes / multi-probe;
    the shuffle is the bucket equi-join, never the cross product.
  * IVF sketch: same code path with bucket := nearest-centroid id when a
    centroid table exists; buckets here are the degenerate (hash) case.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_PLANES = 8

# shared integer-grid constants: the EXPRESSION kernels (oracle path) and
# the numpy kernels (volume path) must derive identical planes/centroids —
# a retune that misses one twin would silently fork bucket/cell assignment
PLANE_MULT, PLANE_ADD = 2654435761, 40503
CENT_MULT, CENT_ADD = 1103515245, 12345


def _plane_weight(j: int, k: Column) -> Column:
    """Deterministic pseudo-random hyperplane weight in [-500, 500), integer
    arithmetic only (identical in every engine; no trig/libm involved):
    w(j, k) = ((j * PLANE_MULT + k * PLANE_ADD) % 1000) - 500."""
    return ((F.lit(j) * F.lit(PLANE_MULT) + k * F.lit(PLANE_ADD)) % 1000 - 500).cast(
        "double"
    )


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def lsh_bucket(vec: Column, n_planes: int = N_PLANES) -> Column:
    """Sign-bit bucket string, one char per hyperplane ('1' if projection
    >= 0).  Projection = sum_k vec[k] * w(j, k)."""
    idx = F.sequence(F.lit(1), F.size(vec))

    def proj(j: int) -> Column:
        return F.aggregate(
            idx,
            F.lit(0.0),
            lambda acc, k: acc + F.element_at(vec, k) * _plane_weight(j, k - 1),
        )

    return F.concat(
        *[F.when(proj(j) >= 0, F.lit("1")).otherwise(F.lit("0")) for j in range(n_planes)]
    )


def assign_buckets(embeddings: DataFrame, vec_col: str = "v") -> DataFrame:
    return embeddings.withColumn("bucket", lsh_bucket(F.col(vec_col)))


def assign_buckets_fast(
    embeddings: DataFrame, vec_col: str = "v", n_planes: int = N_PLANES
) -> DataFrame:
    """Vectorized form of assign_buckets (same planes, numpy projections)
    — the volume path; the expression form is interpreted per element
    (see ivf_knn fast notes) and stays as the oracle kernel."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def bucket_udf(vs: pd.Series) -> pd.Series:
        M = np.stack(vs.to_numpy())
        dim = M.shape[1]
        j = np.arange(n_planes, dtype=np.int64)[:, None]
        kk = np.arange(dim, dtype=np.int64)[None, :]
        W = ((j * PLANE_MULT + kk * PLANE_ADD) % 1000 - 500).astype(np.float64)
        signs = (M @ W.T) >= 0  # (n, planes)
        return pd.Series(
            ["".join("1" if b else "0" for b in row) for row in signs]
        )

    return embeddings.withColumn("bucket", bucket_udf(F.col(vec_col)))


N_IVF_CELLS = 8


def _centroid_weight(j: int, k: Column) -> Column:
    """Deterministic centroid component in [-0.5, 0.5): integer-derived like
    the hyperplanes, scaled to embedding magnitude."""
    return (
        ((F.lit(j).cast("long") * F.lit(CENT_MULT) + k.cast("long") * F.lit(CENT_ADD)) % 1000 - 500).cast("double")
        / 1000.0
    )


def _cell_dist2(vec: Column, j: int) -> Column:
    """Squared L2 distance of ``vec`` to deterministic centroid ``j``."""
    idx = F.sequence(F.lit(1), F.size(vec))
    return F.aggregate(
        idx,
        F.lit(0.0),
        lambda acc, k: acc
        + (F.element_at(vec, k) - _centroid_weight(j, k - 1))
        * (F.element_at(vec, k) - _centroid_weight(j, k - 1)),
    )


def ivf_cell(vec: Column, n_cells: int = N_IVF_CELLS) -> Column:
    """IVF coarse quantizer: nearest deterministic centroid by squared L2.

    The scale path for ANN when an LSH sign-bucket is too coarse: build the
    centroid table (here a fixed deterministic grid; in production a k-means
    sample), assign each vector to its cell, and search only within the
    probe cell(s).  Pure column expressions -> portable to the oracle.
    """
    # one array of distances, argmin via array_position (first match ->
    # deterministic lowest-j tie-break); a chained-when argmin would nest
    # each dist2 exponentially in the expression tree
    dists = F.array(*[_cell_dist2(vec, j) for j in range(n_cells)])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def assign_ivf_cells(embeddings: DataFrame, vec_col: str = "v") -> DataFrame:
    return embeddings.withColumn("cell", ivf_cell(F.col(vec_col)))


def bucketed_near_duplicates(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    threshold: float = 0.95,
    fast: bool = False,
) -> DataFrame:
    """Pairs with cosine >= threshold that collide in an LSH bucket.
    Output (vec_a, vec_b, cosine).  ``fast=True`` uses the numpy kernels
    for bucket projection and pair cosine (volume path; expression forms
    remain the oracle kernels)."""
    assign = assign_buckets_fast if fast else assign_buckets
    b = assign(embeddings, vec_col)
    if fast:
        # the self-join reads b twice; repartitioning on the join key once
        # makes both sides the same exchange, which Spark reuses, so the
        # bucket UDF projects every vector ONCE (see lsh_candidate_pairs).
        # Pair scoring stays per-pair (cosine_fast): within-bucket pair
        # counts are the recall knob's own output and hot buckets split via
        # AQE skew-join; a per-bucket matmul variant would ship vectors once
        # per side but cannot salt (pairs must cross shard boundaries
        # within a bucket).
        b = b.repartition("bucket")
    left = b.select(
        F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"), "bucket"
    )
    right = b.select(
        F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"), "bucket"
    )
    sim = cosine_fast("va", "vb") if fast else cosine(F.col("va"), F.col("vb"))
    return (
        left.join(right, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(sim, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# k-means-refined IVF: Lloyd iterations over the deterministic init grid
# ---------------------------------------------------------------------------

KMEANS_SCALE = 1_000_000.0  # quantization: vq[k] = floor(v[k] * SCALE)


def _init_centroids(n_cells: int, dim: int) -> list[list[float]]:
    """Quantized-scale init = _centroid_weight * SCALE: integer*1000 ->
    exact doubles, identical in every engine."""
    return [
        [float(((j * CENT_MULT + k * CENT_ADD) % 1000 - 500) * 1000.0)
         for k in range(dim)]
        for j in range(n_cells)
    ]


def _argmin_cell(centroids: list[list[float]]) -> Column:
    """Nearest centroid of the quantized vector column ``vq`` by squared L2;
    array_position argmin = lowest-cell tie-break.  The fold runs left-to-
    right over dims, so the float sum order is pinned (the DuckDB oracle's
    list_sum folds the same order -> bit-identical distances)."""
    def dist2(c: list[float]) -> Column:
        return F.aggregate(
            F.zip_with(
                F.col("vq"),
                F.array(*[F.lit(x) for x in c]),
                lambda q, w: (q.cast("double") - w) * (q.cast("double") - w),
            ),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    dists = F.array(*[dist2(c) for c in centroids])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def kmeans_refined_cells(
    embeddings: DataFrame,
    vec_col: str = "v",
    n_cells: int = N_IVF_CELLS,
    iterations: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """IVF cells after ``iterations`` Lloyd refinements of the deterministic
    init grid — the production path where the fixed grid is too coarse.

    Exactness design (what makes an ITERATIVE float algorithm oracle-
    checkable across engines): vectors are quantized to integers
    (floor(v*1e6)), so per-cell sums are EXACT bigints regardless of
    partition order; each refined centroid component is one double division
    sum/count (exact while |sum| < 2^53 — holds to ~10^9 vectors at unit
    scale); distances fold dims left-to-right.  Every float op is therefore
    order-pinned and reproducible bit-for-bit.  The 2^53 precondition is
    ENFORCED, not prose: every collected per-cell sum is checked on the
    driver each iteration (n_cells x dim scalars — control-plane cost) and
    an over-bound corpus raises ArithmeticError instead of silently
    degrading the bit-reproducibility claim.

    Plan shape per iteration: one codegen'd argmin projection + one
    partial-agg groupBy on ``cell`` (n_cells rows out) + a driver collect
    of n_cells rows (control-plane, like checkpoint lineage) — the vectors
    themselves never shuffle.  Returns (vec_id, cell) under the final
    centroids."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    base, centroids = _lloyd_refined(embeddings, vec_col, n_cells, iterations, dim)
    return base.withColumn("cell", _argmin_cell(centroids)).select("vec_id", "cell")


def _lloyd_refined(embeddings, vec_col, n_cells, iterations, dim, with_id=True):
    """The shared Lloyd loop: quantize, refine ``iterations`` times from
    the deterministic init grid, return (quantized base, final centroids
    in QUANTIZED space).  ``with_id=False`` drops the vec_id requirement
    for centroid-only training (ids are only needed when the caller will
    assign cells back to vectors)."""
    vq = F.transform(
        F.col(vec_col), lambda x: F.floor(x * F.lit(KMEANS_SCALE)).cast("long")
    )
    if with_id:
        base = embeddings.select("vec_id", vq.alias("vq"))
    else:
        base = embeddings.select(vq.alias("vq"))
    centroids = _init_centroids(n_cells, dim)
    for _ in range(iterations):
        stats = lloyd_iteration_plan(base, centroids, dim).collect()
        refined = [list(c) for c in centroids]  # empty cells keep their centroid
        for row in stats:
            _check_exact_sum_bound(row, dim)
            refined[row["cell"]] = [row[f"s{k}"] / row["cnt"] for k in range(dim)]
        centroids = refined
    return base, centroids


def kmeans_refined_centroids(
    embeddings: DataFrame,
    vec_col: str = "v",
    n_cells: int = N_IVF_CELLS,
    iterations: int = 2,
    dim: int | None = None,
) -> list[list[float]]:
    """The RAW-SPACE centroid vectors the kmeans_refined_cells training
    pass converges to — the list ivf_pq_topk(centroids=...) and
    ivf_knn-style routing consume, closing the train -> search loop
    in-repo.  Same exactness design (quantized integer sums, 2^53
    enforced); the returned components carry the one-part-in-1e6
    quantization of KMEANS_SCALE, which is routing-irrelevant (cells are
    macroscopically separated) and documented rather than hidden."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    _, centroids = _lloyd_refined(
        embeddings, vec_col, n_cells, iterations, dim, with_id=False
    )
    return [[x / KMEANS_SCALE for x in c] for c in centroids]


# a bigint-to-double conversion is exact only below 2^53; past it the
# refined centroids (and therefore the oracle claim) silently drift
_KMEANS_EXACT_SUM_BOUND = 1 << 53


def _check_exact_sum_bound(row, dim: int) -> None:
    worst = max(abs(row[f"s{k}"]) for k in range(dim))
    if worst >= _KMEANS_EXACT_SUM_BOUND:
        raise ArithmeticError(
            f"kmeans_refined_cells: per-cell quantized sum |{worst}| >= 2^53 "
            f"in cell {row['cell']} ({row['cnt']} vectors) — centroid division "
            "is no longer bit-exact across engines. Reduce KMEANS_SCALE, "
            "normalize the vectors, or split the corpus across more cells."
        )


def lloyd_iteration_plan(
    base: DataFrame, centroids: list[list[float]], dim: int
) -> DataFrame:
    """ONE Lloyd iteration as an un-executed plan: codegen'd argmin
    assignment + partial-agg groupBy("cell") yielding (cell, cnt, s0..s{dim-1})
    — n_cells rows out, the control-plane stats the driver folds into the
    next centroid set.  Factored out so the per-iteration physical plan is
    directly auditable (tests/test_plan_hygiene.py): the whole-loop plan
    cannot be built without running the jobs between iterations."""
    assigned = base.withColumn("cell", _argmin_cell(centroids))
    return assigned.groupBy("cell").agg(
        F.count("*").alias("cnt"),
        *[F.sum(F.element_at("vq", k + 1)).alias(f"s{k}") for k in range(dim)],
    )


def ivf_probe_cells(
    vec: Column, n_cells: int = N_IVF_CELLS, n_probe: int = 1
) -> Column:
    """The ``n_probe`` nearest IVF cells of a vector, closest first
    (ties -> lower cell id): sort (dist, cell) structs, slice, project.
    Multi-probe is THE recall knob of IVF search — candidates from the
    runner-up cells catch neighbours that fell across a cell boundary."""
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(_cell_dist2(vec, j).alias("d"), F.lit(j).alias("j"))
                for j in range(n_cells)
            ]
        )
    )
    return F.transform(F.slice(ranked, 1, n_probe), lambda s: s["j"].cast("int"))


# ---------------------------------------------------------------------------
# numpy fast kernels: Spark's higher-order fns (aggregate/zip_with) are
# INTERPRETED per element, not codegen'd — measured 187 s for 100 queries
# over a 128k x 64-dim corpus on local[32] through the expression kernels.
# The Arrow-batched numpy forms below are the 100 TB path; the expression
# forms remain the ORACLE kernels (bit-pinned fold order for the DuckDB
# cross-check at gate scale, where interpreted speed is irrelevant).
# ---------------------------------------------------------------------------

def _centroid_grid(n_cells: int, dim: int):
    import numpy as np

    j = np.arange(n_cells, dtype=np.int64)[:, None]
    kk = np.arange(dim, dtype=np.int64)[None, :]
    return (((j * CENT_MULT + kk * CENT_ADD) % 1000 - 500) / 1000.0)


def _cells_matrix(M, n_cells: int, centroids=None):
    """(n, p) squared L2 distances of rows of M to the centroid set —
    the deterministic grid, or explicit (trained) ``centroids`` when
    given — via the expanded form (no (n, p, dim) intermediate).  The
    single numpy distance kernel every cell-assignment/probe path
    shares, so the grid and trained paths can never diverge."""
    import numpy as np

    if centroids is not None:
        C = np.asarray(centroids, dtype=np.float64)
    else:
        C = _centroid_grid(n_cells, M.shape[1])
    return (
        (M * M).sum(axis=1)[:, None]
        - 2.0 * (M @ C.T)
        + (C * C).sum(axis=1)[None, :]
    )


def assign_ivf_cells_fast(
    embeddings: DataFrame,
    vec_col: str = "v",
    n_cells: int = N_IVF_CELLS,
    centroids=None,
) -> DataFrame:
    """Vectorized IVF coarse quantizer (same grid as ivf_cell, or the
    explicit trained ``centroids``; numpy argmin ties break to the
    lowest cell like array_position)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def cell_udf(vs: pd.Series) -> pd.Series:
        M = np.stack(vs.to_numpy())
        return pd.Series(
            np.argmin(_cells_matrix(M, n_cells, centroids), axis=1).astype("int32")
        )

    return embeddings.withColumn("cell", cell_udf(F.col(vec_col)))


def _probe_cells_fast_udf(n_cells: int, n_probe: int, centroids=None):
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def probe_udf(vs: pd.Series) -> pd.Series:
        M = np.stack(vs.to_numpy())
        order = np.argsort(
            _cells_matrix(M, n_cells, centroids), axis=1, kind="stable"
        )
        return pd.Series(list(order[:, :n_probe].astype("int32")))

    return probe_udf


def cosine_fast(a_col: str, b_col: str):
    """Arrow-batched pair cosine over two array columns."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.stack(a.to_numpy())
        B = np.stack(b.to_numpy())
        num = (A * B).sum(axis=1)
        den = np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
        return pd.Series(num / den)

    return cos_udf.asNondeterministic()(F.col(a_col), F.col(b_col))


def ivf_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    vec_col: str = "v",
    id_col: str = "vec_id",
    n_probe: int = 1,
    fast: bool = False,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Batched ANN search: top-k cosine neighbours per query, candidates
    pruned to the query's IVF cell.  ``centroids`` swaps the
    deterministic grid for explicit trained centroid vectors (e.g. from
    kmeans_refined_centroids) — same plans and tie-breaks, matching
    ivf_pq_topk's contract.

    Plan: both sides get a cell id (pure projection), the query side
    broadcasts (queries << corpus always), candidates meet via the cell
    equi-join — the corpus is scanned once for ALL queries, never once per
    query, and never cross-joined.  Ranking is one window partitioned by
    query.  At scale, multi-probe = exploding each query to its p nearest
    cells before the same join.  Output (q_id, n_id, cosine, rank).

    ``fast=True`` switches to the numpy matmul path (the 100 TB kernel —
    measured 187 s -> ~3 s for 100 queries over a 128k corpus): cells via a
    vectorized pandas UDF, then a COGROUP per cell that scores the cell's
    corpus block against its query block with one normalized matrix product
    and keeps only each query's per-cell top-k — the vectors cross Arrow
    ONCE per side instead of once per candidate PAIR (the pair-expression
    plan ships ~|candidates| x 2 x dim doubles; the cogroup ships |corpus| +
    |queries|).  The default expression kernels keep the bit-pinned fold
    order the DuckDB oracle reproduces (last-ulp float differences could
    flip near-tie ranks in the hash compare)."""
    from pyspark.sql import Window

    if centroids is not None and not centroids:
        raise ValueError("centroids must be non-empty when given")
    n_cells = N_IVF_CELLS if centroids is None else len(centroids)
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id"))
    if fast:
        c = assign_ivf_cells_fast(corpus, vec_col, centroids=centroids).select(
            F.col(id_col).alias("n_id"), F.col(vec_col).alias("cv"), "cell"
        )
        probe = _probe_cells_fast_udf(n_cells, n_probe, centroids=centroids)
        q = queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("qv"),
            F.explode(probe(F.col(vec_col))).alias("cell"),
        )
        scored = _cogroup_topk(c, q, k, id_type=corpus.schema[id_col].dataType)
    else:
        if centroids is None:
            cell_col = ivf_cell(F.col(vec_col))
            probe_col = ivf_probe_cells(F.col(vec_col), n_probe=n_probe)
        else:
            cell_col = _argmin_cell_raw(F.col(vec_col), centroids)
            probe_col = _probe_cells_raw(F.col(vec_col), centroids, n_probe)
        c = corpus.select(
            F.col(id_col).alias("n_id"),
            F.col(vec_col).alias("cv"),
            cell_col.alias("cell"),
        )
        q = queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("qv"),
            F.explode(probe_col).alias("cell"),
        )
        scored = c.join(F.broadcast(q), "cell").select(
            "q_id", "n_id", cosine(F.col("cv"), F.col("qv")).alias("sim")
        )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id", "n_id",
            F.round("sim", 6).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _topk_by(key, n_ids, take: int):
    """Indices of the ``take`` smallest elements by (key asc, n_id asc) —
    EXACTLY np.lexsort((n_ids, key))[:take], but with an argpartition
    prefilter so only the candidate set (the k smallest keys plus every
    key-tie at the threshold) pays the n log n sort.  Tie-completeness
    makes the n_id tiebreak exact: every element with key <= the kth
    smallest key is in the candidate set before the final lexsort."""
    import numpy as np

    n = len(key)
    if take >= n:
        return np.lexsort((n_ids, key))[:take]
    cand = np.argpartition(key, take - 1)[:take]
    thr = key[cand].max()
    if np.isnan(thr):  # fewer than take non-NaN keys: key <= NaN is empty
        return np.lexsort((n_ids, key))[:take]
    cand = np.flatnonzero(key <= thr)
    return cand[np.lexsort((n_ids[cand], key[cand]))][:take]


def _cogroup_topk(
    c: DataFrame, q: DataFrame, k: int, id_type=None, n_salts: int = 16
) -> DataFrame:
    """Per-cell grouped scoring: cogroup the corpus and query blocks of a
    cell, one normalized matmul, per-query per-cell top-k out.  The global
    window in ivf_knn then merges the <= n_probe x n_salts candidate sets.

    Each cell is SUB-SPLIT into ``n_salts`` deterministic corpus shards
    (queries replicate to every shard): with only N_IVF_CELLS cells a plain
    cogroup caps parallelism at 8 tasks and must hold 1/8 of the corpus in
    one pandas block — salting gives n_cells x n_salts tasks and bounds
    each block at |corpus| / (n_cells x n_salts).  Per-shard top-k keeps
    (sim desc, n_id asc) order so the merged window result is identical to
    the expression kernel's tie-break (argpartition alone would break
    sim-ties arbitrarily and drop the candidate the oracle path ranks)."""
    import numpy as np

    id_sql = (id_type.simpleString() if id_type is not None else "bigint")
    c = c.withColumn("salt", F.pmod(F.xxhash64("n_id"), F.lit(n_salts)))
    q = q.join(
        F.broadcast(
            q.sparkSession.range(n_salts).select(F.col("id").alias("salt"))
        ),
        how="cross",
    )

    def score(key, cdf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        if len(cdf) == 0 or len(qdf) == 0:
            return pd.DataFrame({"q_id": [], "n_id": [], "sim": []})
        M = np.stack(cdf["cv"].to_numpy())
        Q = np.stack(qdf["qv"].to_numpy())
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        S = Mn @ Qn.T  # (n_corpus, n_queries)
        q_ids = qdf["q_id"].to_numpy()
        n_ids = cdf["n_id"].to_numpy()
        kk = min(k, S.shape[0])
        out_q, out_n, out_s = [], [], []
        for qi in range(S.shape[1]):
            # (sim desc, n_id asc) == (-sim asc, n_id asc); _topk_by is the
            # argpartition-prefiltered exact form of
            # np.lexsort((n_ids, -S[:, qi]))[:kk]
            order = _topk_by(-S[:, qi], n_ids, kk)
            out_q.extend([q_ids[qi]] * len(order))
            out_n.extend(n_ids[order])
            out_s.extend(S[order, qi])
        return pd.DataFrame({"q_id": out_q, "n_id": out_n, "sim": out_s})

    return (
        c.groupBy("cell", "salt")
        .cogroup(q.groupBy("cell", "salt"))
        .applyInPandas(score, f"q_id {id_sql}, n_id {id_sql}, sim double")
    )


# --- Product quantization (PQ) -------------------------------------------
#
# The memory-compression scale path for billion-vector ANN (IVF-PQ):
# each vector splits into PQ_M subvectors, each subvector quantizes to its
# nearest entry in a per-subspace PQ_CENTROIDS-entry codebook, so a
# 64-dim float64 vector (512 B) stores as PQ_M 4-bit codes (4 B, 128x).
# At 10^12 documents the code table fits executor memory where the raw
# vectors cannot; search becomes asymmetric-distance lookups against the
# per-subspace distance tables.  Reference has no PQ (single-node engine,
# docling_ocr/qwen3vl pipeline holds vectors in RAM) — this is part of the
# beyond-reference similarity family.
#
# The codebook here is the same deterministic integer-grid construction as
# the IVF centroids (engine-portable, no RNG/libm): production would swap
# a trained codebook table in via the same join shape.  Expression kernel
# = the DuckDB-oracle twin; numpy kernel = the volume path.  Both use
# first-match argmin (lowest centroid id wins ties) and accumulate
# squared-difference terms in ascending dimension order so the three
# float paths (fold, numpy loop, SQL) agree at the 6dp rounding the
# driver hashes.

PQ_M = 8
PQ_CENTROIDS = 16
PQ_S_MULT, PQ_J_MULT, PQ_K_MULT = 48271, 69621, 16807


def _pq_codebook_np(m: int, n_centroids: int, sub_dim: int):
    """numpy codebook C[s, j, k], identical to _pq_centroid_weight —
    the single construction every numpy PQ kernel must share."""
    import numpy as np

    s_ix = np.arange(m, dtype=np.int64)[:, None, None]
    j_ix = np.arange(n_centroids, dtype=np.int64)[None, :, None]
    k_ix = np.arange(sub_dim, dtype=np.int64)[None, None, :]
    return (
        ((s_ix * PQ_S_MULT + j_ix * PQ_J_MULT + k_ix * PQ_K_MULT) % 1000 - 500)
        .astype(np.float64)
        / 1000.0
    )


def _pq_centroid_weight(s: int, j: int, k: Column) -> Column:
    """Deterministic codebook component in [-0.5, 0.5) for subspace ``s``,
    centroid ``j``, intra-subspace dimension ``k`` (0-based)."""
    return (
        (
            (
                F.lit(s * PQ_S_MULT + j * PQ_J_MULT).cast("long")
                + k.cast("long") * F.lit(PQ_K_MULT)
            )
            % 1000
            - 500
        ).cast("double")
        / 1000.0
    )


def _pq_sub_dist2(vec: Column, s: int, j: int, sub_dim: int) -> Column:
    """Squared L2 of subvector ``s`` of ``vec`` to codebook entry ``j``,
    accumulated in ascending dimension order (the cross-engine contract)."""
    idx = F.sequence(F.lit(1), F.lit(sub_dim))
    base = s * sub_dim
    return F.aggregate(
        idx,
        F.lit(0.0),
        lambda acc, k: acc
        + (F.element_at(vec, F.lit(base) + k) - _pq_centroid_weight(s, j, k - 1))
        * (F.element_at(vec, F.lit(base) + k) - _pq_centroid_weight(s, j, k - 1)),
    )


def _codebook_np(codebook, m: int, n_centroids: int, sub_dim: int):
    """Resolve the PQ codebook: the deterministic grid when ``codebook``
    is None, else the caller's TRAINED codebook (any (m, n_centroids,
    sub_dim) nested list / array) validated to the expected shape — the
    production swap-in path the grid stands in for."""
    import numpy as np

    if codebook is None:
        return _pq_codebook_np(m, n_centroids, sub_dim)
    C = np.asarray(codebook, dtype=np.float64)
    if C.shape != (m, n_centroids, sub_dim):
        raise ValueError(
            f"codebook shape {C.shape} != ({m}, {n_centroids}, {sub_dim})"
        )
    return C


def _pq_sub_dist2_lit(vec: Column, s: int, j: int, sub_dim: int, C) -> Column:
    """_pq_sub_dist2 against an EXPLICIT codebook: the weights become
    literals, and the fold unrolls into a left-to-right + chain — the
    same ascending-dimension accumulation order as the fold/numpy
    kernels, so all three paths stay bit-identical."""
    base = s * sub_dim
    total = None
    for kk in range(sub_dim):
        d = F.element_at(vec, F.lit(base + kk + 1)) - F.lit(float(C[s][j][kk]))
        term = d * d
        total = term if total is None else total + term
    return total


def _pq_encode_np(V, m: int, n_centroids: int, sub_dim: int, C):
    """The numpy PQ encode kernel: (codes (n, m) int, err (n,) float).
    Accumulates over k SEQUENTIALLY, matching the fold order of the
    expression kernel — np.sum's pairwise association differs in the
    last ulp, enough to flip a 6dp boundary or a near-tie.  Factored out
    of the mapInPandas closure so the hypothesis differential drives the
    SHIPPED kernel, not a test-local copy."""
    import numpy as np

    n = V.shape[0]
    Vs = V.reshape(n, m, 1, sub_dim)
    D = np.zeros((n, m, n_centroids))
    for k in range(sub_dim):
        diff = Vs[:, :, 0, k][:, :, None] - C[None, :, :, k]
        D += diff * diff
    codes = D.argmin(axis=2)  # first occurrence = lowest id
    err = np.zeros(n)
    for s in range(m):
        err += D[np.arange(n), s, codes[:, s]]
    return codes, err


def pq_encode(
    embeddings: DataFrame,
    vec_col: str = "v",
    dim: int = 64,
    m: int = PQ_M,
    n_centroids: int = PQ_CENTROIDS,
    fast: bool = False,
    codebook=None,
) -> DataFrame:
    """Product-quantize ``vec_col``: adds ``pq_code`` (codes joined with
    '-', one per subspace, lowest-id tie-break) and ``recon_err`` (total
    squared quantization error, 6dp).  ``fast=True`` runs the vectorized
    numpy kernel (volume path); the expression form is the oracle twin.
    ``codebook`` swaps the deterministic grid for a TRAINED
    (m, n_centroids, sub_dim) codebook — same kernels, same tie-breaks,
    the weights just become data instead of derived constants.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_dim = dim // m
    if codebook is not None:
        codebook = _codebook_np(codebook, m, n_centroids, sub_dim)
    if not fast:
        vec = F.col(vec_col)

        def sub_dist2(s, j):
            if codebook is None:
                return _pq_sub_dist2(vec, s, j, sub_dim)
            return _pq_sub_dist2_lit(vec, s, j, sub_dim, codebook)

        codes, errs = [], []
        for s in range(m):
            dists = F.array(
                *[sub_dist2(s, j) for j in range(n_centroids)]
            )
            codes.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
            errs.append(F.array_min(dists))
        total = errs[0]
        for e in errs[1:]:
            total = total + e
        return embeddings.withColumn(
            "pq_code", F.concat_ws("-", *[c.cast("string") for c in codes])
        ).withColumn("recon_err", F.round(total, 6))

    import numpy as np

    # output carries EVERY input column (vec_col included) so flipping the
    # kernel flag never changes the schema a downstream select resolves
    sql_types = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in embeddings.schema.fields
    )

    C = _codebook_np(codebook, m, n_centroids, sub_dim)

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy())
            if V.shape[1] != dim:
                raise ValueError(f"expected dim {dim}, got {V.shape[1]}")
            codes, err = _pq_encode_np(V, m, n_centroids, sub_dim, C)
            out = pdf.copy()
            out["pq_code"] = ["-".join(str(c) for c in row) for row in codes]
            out["recon_err"] = err
            yield out

    # round JVM-side: Spark round is HALF_UP, numpy's is HALF_EVEN — a
    # recon_err landing exactly on a 6dp boundary must round like the
    # expression arm does
    return embeddings.mapInPandas(
        encode, f"{sql_types}, pq_code string, recon_err double"
    ).withColumn("recon_err", F.round(F.col("recon_err"), 6))


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    dim: int = 64,
    m: int = PQ_M,
    n_centroids: int = PQ_CENTROIDS,
    vec_col: str = "v",
    id_col: str = "vec_id",
    fast: bool = False,
    fast_scan: bool = False,
    codebook=None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the search half of
    IVF-PQ.  Each query precomputes an m x n_centroids distance table
    (squared L2 of its subvectors to every codebook entry); a candidate's
    approximate distance is the sum of table entries at its codes, so the
    scan touches ONLY the 4-bit codes, never the raw vectors.  The k
    winners per query are then re-rank-fetched against the corpus vectors
    for their TRUE cosine (the bounded fetch real PQ systems do) — output
    (q_id, n_id, cosine, rank) ranked by ADC distance (ascending,
    n_id tie-break), cosines 6dp.

    ``fast`` selects the code-generation kernel (pq_encode); the ADC sum
    itself is pure element_at arithmetic, identical either way.
    ``fast_scan=True`` replaces the per-candidate element_at scoring with
    the numpy volume kernel: codes cogroup with the replicated query set
    over deterministic salt shards (no driver collect, |corpus|/n_salts
    bounded pandas blocks — the _cogroup_topk shape), each shard builds
    the query distance tables once, gathers + sums table entries per
    candidate in sequential subspace order (the cross-kernel float
    contract), and emits its per-query top-k for the global window merge.
    The query side broadcasts (tables are m x n_centroids doubles per
    query); at 10^12 vectors the code scan reads m x 4 bits = 4 B per
    vector vs dim x 8 B = 512 B raw — (dim x 64) / (m x 4) = 128x less
    I/O than the raw-vector scan the exact kernels need."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_dim = dim // m
    if codebook is not None:
        codebook = _codebook_np(codebook, m, n_centroids, sub_dim)

    codes = pq_encode(
        corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("cv")),
        vec_col="cv",
        dim=dim,
        m=m,
        n_centroids=n_centroids,
        fast=fast or fast_scan,
        codebook=codebook,
    ).select(
        "n_id",
        *[
            F.split("pq_code", "-").getItem(s).cast("int").alias(f"c{s}")
            for s in range(m)
        ],
    )
    if fast_scan:
        scored = _pq_adc_cogroup(
            codes,
            queries.select(
                F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv")
            ),
            k, m, n_centroids, sub_dim,
            id_type=corpus.schema[id_col].dataType,
            codebook=codebook,
        )
    else:
        qv = F.col(vec_col)

        def sub_dist2(s, j):
            if codebook is None:
                return _pq_sub_dist2(qv, s, j, sub_dim)
            return _pq_sub_dist2_lit(qv, s, j, sub_dim, codebook)

        q = queries.select(
            F.col(id_col).alias("q_id"),
            qv.alias("qv"),
            *[
                F.array(
                    *[sub_dist2(s, j) for j in range(n_centroids)]
                ).alias(f"ds{s}")
                for s in range(m)
            ],
        )
        # deliberate bounded broadcast nested-loop: |queries| rows of
        # m x n_centroids tables against the code scan (the production shape)
        adist = F.element_at(F.col("ds0"), F.col("c0") + 1)
        for s in range(1, m):
            adist = adist + F.element_at(F.col(f"ds{s}"), F.col(f"c{s}") + 1)
        scored = codes.crossJoin(F.broadcast(q)).select(
            "q_id", "n_id", adist.alias("adc")
        )
    return _adc_rank_and_rerank(scored, corpus, queries, k, vec_col, id_col)


def _adc_rank_and_rerank(
    scored: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Shared ADC tail: global (adc asc, n_id) window top-k, then the
    true-cosine re-rank fetch — only the k winners per query touch raw
    vectors (corpus side is a bounded semi-fetch, query side broadcasts)."""
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.col("adc"), F.col("n_id"))
    ranked = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank")
    )
    return (
        ranked.join(
            corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("cv")),
            "n_id",
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv")
                )
            ),
            "q_id",
        )
        .select(
            "q_id",
            "n_id",
            F.round(cosine(F.col("cv"), F.col("qv")), 6).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _pq_adc_tables(Q, m: int, n_centroids: int, sub_dim: int, C):
    """Per-query ADC distance tables (n, m, n_centroids) from raw query
    vectors, accumulated over k SEQUENTIALLY — the same fold order as
    _pq_encode_np and the expression kernel (the cross-kernel float
    contract).  Factored out of the cogroup closure so the hypothesis
    differential drives the SHIPPED table build."""
    import numpy as np

    n = Q.shape[0]
    Qs = Q.reshape(n, m, 1, sub_dim)
    T = np.zeros((n, m, n_centroids))
    for kk in range(sub_dim):
        diff = Qs[:, :, 0, kk][:, :, None] - C[None, :, :, kk]
        T += diff * diff
    return T


def _pq_adc_cogroup(
    codes: DataFrame,
    q_prepared: DataFrame,
    k: int,
    m: int,
    n_centroids: int,
    sub_dim: int,
    id_type=None,
    n_salts: int = 16,
    by_cell: bool = False,
    codebook=None,
) -> DataFrame:
    """ADC volume scoring: (q_id, n_id, adc) candidates, per-query top-k
    per shard (the global window in pq_adc_topk/ivf_pq_topk merges shards).

    ``q_prepared`` carries (q_id, qv) — plus ``cell`` when ``by_cell``
    (the IVF-PQ path: codes carry their cell, queries arrive exploded to
    their probed cells, and the cogroup keys on (cell, salt) so a shard
    scores only within-cell candidates).  Codes shard deterministically on
    n_id; queries replicate to every salt shard (bounded broadcast).  Each
    shard builds the m x n_centroids distance tables from the raw query
    vectors with the SAME sequential accumulation the expression/oracle
    kernels use, then scores each candidate by gathering its m table
    entries in ascending subspace order — bit-identical adc values to the
    element_at plan, so the merged ranking (adc asc, n_id asc via lexsort)
    is too."""
    import numpy as np

    id_sql = (id_type.simpleString() if id_type is not None else "bigint")
    C = _codebook_np(codebook, m, n_centroids, sub_dim)
    c = codes.withColumn("salt", F.pmod(F.xxhash64("n_id"), F.lit(n_salts)))
    q = q_prepared.join(
        F.broadcast(
            q_prepared.sparkSession.range(n_salts).select(F.col("id").alias("salt"))
        ),
        how="cross",
    )
    keys = (["cell", "salt"] if by_cell else ["salt"])
    code_cols = [f"c{s}" for s in range(m)]

    def score(key, cdf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        if len(cdf) == 0 or len(qdf) == 0:
            return pd.DataFrame({"q_id": [], "n_id": [], "adc": []})
        T = _pq_adc_tables(
            np.stack(qdf["qv"].to_numpy()), m, n_centroids, sub_dim, C
        )
        codes_np = cdf[code_cols].to_numpy()  # (n, m)
        n_ids = cdf["n_id"].to_numpy()
        q_ids = qdf["q_id"].to_numpy()
        take = min(k, len(cdf))
        # ONE (n_queries, n_codes) gather per subspace instead of a
        # per-query loop of m gathers; accumulation stays sequential in s
        # per element, so every adc value is bit-identical to the
        # element_at expression plan.  Top-k via argpartition prefilter +
        # tie-complete exact lexsort (see _topk_by) — measured 2.2x over
        # the full per-query lexsort at 16k codes x 256 queries, same
        # selected rows.
        adc_mat = T[:, 0, codes_np[:, 0]]
        for s in range(1, m):
            adc_mat = adc_mat + T[:, s, codes_np[:, s]]
        out_q, out_n, out_a = [], [], []
        for qi in range(len(qdf)):
            adc = adc_mat[qi]
            order = _topk_by(adc, n_ids, take)
            out_q.extend([q_ids[qi]] * take)
            out_n.extend(n_ids[order])
            out_a.extend(adc[order])
        return pd.DataFrame({"q_id": out_q, "n_id": out_n, "adc": out_a})

    return (
        c.groupBy(*keys)
        .cogroup(q.groupBy(*keys))
        .applyInPandas(score, f"q_id {id_sql}, n_id {id_sql}, adc double")
    )


def train_pq_codebook(
    embeddings: DataFrame,
    vec_col: str = "v",
    dim: int = 64,
    m: int = PQ_M,
    n_centroids: int = PQ_CENTROIDS,
    iterations: int = 2,
):
    """Train a PQ codebook on the corpus (or a sample — production trains
    on one): per-subspace k-means under the kmeans_refined_cells
    exactness design.  Vectors quantize to integers (floor(v*1e6)) so
    per-centroid sums are EXACT bigints regardless of partition order
    (2^53 enforced per collected sum), making the trained codebook
    bit-reproducible across runs and cluster layouts.

    Plan shape per Lloyd iteration: ONE job over all m subspaces — the
    vector posexplodes into its m quantized subvectors, assignment is a
    lazily-evaluated per-subspace argmin branch, and a partial-agg
    groupBy (s, cell) emits m x n_centroids control-plane rows for the
    driver to fold (the vectors themselves never shuffle).  Init is the
    deterministic grid, so iterations=0 returns the grid exactly and
    each iteration weakly decreases total quantization error on the
    training set.  Returns a raw-space (m, n_centroids, sub_dim) numpy
    codebook for pq_encode/pq_adc_topk/ivf_pq_topk(codebook=...)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_dim = dim // m
    probe_row = embeddings.select(vec_col).first()
    if probe_row is not None and len(probe_row[0]) != dim:
        raise ValueError(
            f"train_pq_codebook: expected dim {dim}, got {len(probe_row[0])}"
        )
    # slice the RAW vector (free projection), quantize AFTER the explode —
    # slicing the transformed vector instead would embed m copies of the
    # interpreted floor(v*1e6) transform in the generator expression and
    # re-quantize every vector m times per training job
    subs = F.array(
        *[
            F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim)
            for s in range(m)
        ]
    )
    base = embeddings.select(F.posexplode(subs).alias("s", "sub")).select(
        "s",
        F.transform(
            "sub", lambda x: F.floor(x * F.lit(KMEANS_SCALE)).cast("long")
        ).alias("vq"),
    )
    # grid init in quantized space: grid entries are int/1000, so *1e6
    # lands on exact integer*1000 doubles (the _init_centroids property)
    C = _pq_codebook_np(m, n_centroids, sub_dim) * KMEANS_SCALE

    def argmin_for(s):
        def dist2(c):
            return F.aggregate(
                F.zip_with(
                    F.col("vq"),
                    F.array(*[F.lit(float(x)) for x in c]),
                    lambda q, w: (q.cast("double") - w) * (q.cast("double") - w),
                ),
                F.lit(0.0),
                lambda acc, d: acc + d,
            )

        dists = F.array(*[dist2(C[s][j]) for j in range(n_centroids)])
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    for _ in range(iterations):
        cell = argmin_for(0)
        for s in range(1, m):
            cell = F.when(F.col("s") == s, argmin_for(s)).otherwise(cell)
        stats = (
            base.withColumn("cell", cell)
            .groupBy("s", "cell")
            .agg(
                F.count("*").alias("cnt"),
                *[
                    F.sum(F.element_at("vq", kk + 1)).alias(f"s{kk}")
                    for kk in range(sub_dim)
                ],
            )
            .collect()
        )
        refined = C.copy()
        for row in stats:
            if row["cell"] is None:
                # a NULL argmin means a vector shorter than ``dim`` or one
                # containing nulls (zip_with null-pads) — without this
                # guard numpy would read row['cell']=None as np.newaxis
                # and silently broadcast one mean over the whole subspace
                raise ValueError(
                    "train_pq_codebook: NULL cell assignment in subspace "
                    f"{row['s']} — input vectors shorter than dim={dim} "
                    "or containing nulls"
                )
            _check_exact_sum_bound(row, sub_dim)
            refined[row["s"], row["cell"]] = [
                row[f"s{kk}"] / row["cnt"] for kk in range(sub_dim)
            ]
        C = refined
    return C / KMEANS_SCALE


def _raw_cell_dist2(vec: Column, c: list[float]) -> Column:
    """Squared L2 of ``vec`` to an EXPLICIT raw-space centroid, folded in
    ascending dimension order (the cross-kernel float contract)."""
    return F.aggregate(
        F.zip_with(
            vec,
            F.array(*[F.lit(float(x)) for x in c]),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def _argmin_cell_raw(vec: Column, centroids: list[list[float]]) -> Column:
    """Nearest explicit centroid by squared L2, array_position argmin =
    lowest-cell tie-break (the same contract as ivf_cell's grid form)."""
    dists = F.array(*[_raw_cell_dist2(vec, c) for c in centroids])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _probe_cells_raw(
    vec: Column, centroids: list[list[float]], n_probe: int
) -> Column:
    """ivf_probe_cells against explicit centroids: sort (dist, cell)
    structs, slice n_probe, project — ties to the lower cell id."""
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(_raw_cell_dist2(vec, c).alias("d"), F.lit(j).alias("j"))
                for j, c in enumerate(centroids)
            ]
        )
    )
    return F.transform(F.slice(ranked, 1, n_probe), lambda s: s["j"].cast("int"))


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    dim: int = 64,
    m: int = PQ_M,
    n_centroids: int = PQ_CENTROIDS,
    n_probe: int = 1,
    vec_col: str = "v",
    id_col: str = "vec_id",
    fast: bool = False,
    fast_scan: bool = False,
    centroids: list[list[float]] | None = None,
    codebook=None,
) -> DataFrame:
    """IVF-PQ search — the full billion-vector ANN stack this family's
    pieces exist for: the IVF coarse quantizer routes each query to its
    ``n_probe`` nearest cells (the recall knob), ADC ranks ONLY the 4-bit
    PQ codes inside those cells (never raw vectors), and the k winners
    re-rank-fetch their true cosine.  vs pq_adc_topk's full code scan,
    the scan cost drops by ~n_cells/n_probe on top of PQ's 128x byte
    compression; vs ivf_knn, the within-cell scoring reads codes instead
    of vectors.  Output (q_id, n_id, cosine, rank) ranked by ADC distance
    (ascending, n_id tie-break), cosines 6dp.

    ``fast`` selects the code/cell-generation kernels; ``fast_scan=True``
    swaps the element_at scoring for the cogroup numpy gather keyed on
    (cell, salt) — same shape as _pq_adc_cogroup, but a shard holds one
    cell's codes so the pandas block is bounded by the largest cell /
    n_salts.  The expression arm's candidate meet is a broadcast EQUI-join
    on cell (queries << corpus), not a nested loop — the production shape
    where the query batch replicates to the probed inverted lists only.

    ``centroids`` (a list of raw-space vectors, e.g. the refined set a
    ``kmeans_refined_cells`` training pass produced) and ``codebook`` (a
    trained (m, n_centroids, sub_dim) PQ codebook) swap the deterministic
    grids for TRAINED quantizers — same plans, same kernels, same
    tie-breaks; the quantizer weights just become data."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_dim = dim // m
    n_cells = N_IVF_CELLS if centroids is None else len(centroids)
    if centroids is not None and (
        not centroids or any(len(c) != dim for c in centroids)
    ):
        raise ValueError(
            f"centroids must be non-empty vectors of dim {dim} "
            f"(got lengths {sorted({len(c) for c in centroids})})"
        )
    if codebook is not None:
        codebook = _codebook_np(codebook, m, n_centroids, sub_dim)

    base = corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("cv"))
    if fast or fast_scan:
        base = assign_ivf_cells_fast(
            base, vec_col="cv", n_cells=n_cells, centroids=centroids
        )
    elif centroids is None:
        base = base.withColumn("cell", ivf_cell(F.col("cv")))
    else:
        base = base.withColumn(
            "cell", _argmin_cell_raw(F.col("cv"), centroids)
        )
    codes = pq_encode(
        base, vec_col="cv", dim=dim, m=m, n_centroids=n_centroids,
        fast=fast or fast_scan, codebook=codebook,
    ).select(
        "n_id",
        "cell",
        *[
            F.split("pq_code", "-").getItem(s).cast("int").alias(f"c{s}")
            for s in range(m)
        ],
    )

    qv = F.col(vec_col)
    if fast_scan:
        probe = _probe_cells_fast_udf(n_cells, n_probe, centroids=centroids)
        q = queries.select(
            F.col(id_col).alias("q_id"),
            qv.alias("qv"),
            F.explode(probe(qv)).alias("cell"),
        )
        scored = _pq_adc_cogroup(
            codes, q, k, m, n_centroids, sub_dim,
            id_type=corpus.schema[id_col].dataType, by_cell=True,
            codebook=codebook,
        )
    else:
        if centroids is None:
            probe_col = ivf_probe_cells(qv, n_probe=n_probe)
        else:
            probe_col = _probe_cells_raw(qv, centroids, n_probe)

        def sub_dist2(s, j):
            if codebook is None:
                return _pq_sub_dist2(qv, s, j, sub_dim)
            return _pq_sub_dist2_lit(qv, s, j, sub_dim, codebook)

        q = queries.select(
            F.col(id_col).alias("q_id"),
            qv.alias("qv"),
            F.explode(probe_col).alias("cell"),
            *[
                F.array(
                    *[sub_dist2(s, j) for j in range(n_centroids)]
                ).alias(f"ds{s}")
                for s in range(m)
            ],
        )
        adist = F.element_at(F.col("ds0"), F.col("c0") + 1)
        for s in range(1, m):
            adist = adist + F.element_at(F.col(f"ds{s}"), F.col(f"c{s}") + 1)
        scored = codes.join(F.broadcast(q), "cell").select(
            "q_id", "n_id", adist.alias("adc")
        )
    return _adc_rank_and_rerank(scored, corpus, queries, k, vec_col, id_col)
