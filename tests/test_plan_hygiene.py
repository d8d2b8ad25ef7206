"""Plan-hygiene sweep over EVERY registered query: no accidental cartesian
products or broadcast nested-loop joins anywhere in the surface.

Allowlisted exceptions (ALLOWED_NESTED_LOOP below): knn_bruteforce
deliberately crossJoins a broadcast ONE-ROW query vector (the exactness
baseline; the ANN paths are the scale alternatives), and knn_batch
carries three deliberate bounded loops — the fast arm's broadcast 16-row
salt-table replicate (bounded by n_salts, never corpus-proportional —
see _cogroup_topk), the pq_adc arm's broadcast |queries|-row
distance-table scan over the codes, and the pq_adc_fast / ivf_pq_fast
arms' 16-row salt replicates of the query set.

The driver-loop queries (dup_components, dedup_survivors, ivf_kmeans)
execute jobs during plan CONSTRUCTION, so their whole-loop plan cannot be
swept; instead their PER-ITERATION plans — one min-label propagation round,
one Lloyd iteration — are asserted directly below, which is the plan that
actually repeats at scale."""

import pytest
from pyspark.sql import functions as F

from docling_ocr_qwen3vl_spark.queries import QUERIES

# name -> max tolerated BroadcastNestedLoopJoin occurrences: the bound is
# per-query so a FURTHER accidental nested loop (e.g. a broken equi-join
# in knn_batch's expression arms) still fails the sweep.  knn_batch's
# four deliberate loops: the fast arm's 16-row salt replicate, the
# pq_adc arm's bounded |queries|-row distance-table broadcast against the
# code scan (the production ADC shape — scoring touches codes only), the
# pq_adc_fast arm's 16-row salt replicate of the query set, and the
# ivf_pq_fast arm's 16-row salt replicate (the ivf_pq expression arms
# meet candidates via a broadcast EQUI-join on cell — no loop).
ALLOWED_NESTED_LOOP = {"knn_bruteforce": 1, "knn_batch": 4}

# fixpoint loops / eager builders: whole-query plan construction runs jobs
# (driver-loop collects or an eager localCheckpoint), so the sweep would
# only inspect a checkpoint scan; their REAL repeating/lazy plans are
# asserted individually below instead
ITERATIVE = {"ivf_kmeans", "dup_components", "dedup_survivors"}


def _assert_clean(df, name, max_nested_loop=0):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, name
    n_bnl = plan.count("BroadcastNestedLoopJoin")
    assert n_bnl <= max_nested_loop, f"{name}: {n_bnl} nested-loop joins"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - ITERATIVE))
def test_no_cartesian_anywhere(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    _assert_clean(df, name, max_nested_loop=ALLOWED_NESTED_LOOP.get(name, 0))


def _final_and_initial(df):
    """(final, initial) AQE plan strings of ``df``, read after an action."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final, initial = plan.split("== Initial Plan ==")
    return final, initial


def test_lsh_pair_union_plan_clean(spark, sf_dir):
    """The cache-free self-joins run each kernel ONCE: after the action, the
    final AQE plan holds the kernel nodes of one join side only — the other
    side is a ReusedExchange of the shared repartition — and no cache scan.
    Checked for the two-kernel LSH pair union with broadcast joins and with
    sort-merge joins, and for the fast bucketed near-dup join."""
    from docling_ocr_qwen3vl_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
        minhash_signature_fast,
    )
    from docling_ocr_qwen3vl_spark.operators.similarity import (
        bucketed_near_duplicates,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)

    def pair_union():
        return lsh_candidate_pairs(minhash_signature(docs)).unionByName(
            lsh_candidate_pairs(minhash_signature_fast(docs))
        )

    key = "spark.sql.autoBroadcastJoinThreshold"
    session_threshold = spark.conf.get(key)
    for threshold in (session_threshold, "-1"):  # then sort-merge only
        spark.conf.set(key, threshold)
        try:
            union = pair_union()
            _assert_clean(union, "lsh_pair_union")
            final, _ = _final_and_initial(union)
        finally:
            spark.conf.set(key, session_threshold)
        join = "SortMergeJoin" if threshold == "-1" else "BroadcastHashJoin"
        assert final.count(join) == 2, (threshold, final)  # one per kernel
        assert final.count("ArrowEvalPython") == 2  # one per kernel
        assert final.count("ReusedExchange") >= 2
        assert "InMemoryTableScan" not in final

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    buckets = bucketed_near_duplicates(emb, threshold=0.0, fast=True)
    _assert_clean(buckets, "bucketed_near_duplicates")
    final, initial = _final_and_initial(buckets)
    assert 2 * final.count("bucket_udf(") == initial.count("bucket_udf(") > 0
    # the threshold filter reads the scored column: one cosine per pair
    assert final.count("cos_udf(") == 1, final
    assert "ReusedExchange" in final
    assert "InMemoryTableScan" not in final


def test_simhash_pairs_run_the_kernel_once(spark, sf_dir):
    """The block self-join runs the simhash kernel ONCE: the join's inferred
    ``isnotnull(simhash)`` filter is not pushed below the spread exchange
    (where it re-ran the UDF), and the second join side reuses the first's
    exchange."""
    from docling_ocr_qwen3vl_spark.operators.dedup import (
        simhash,
        simhash_near_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = simhash_near_pairs(simhash(docs))
    _assert_clean(pairs, "simhash_near_pairs")
    final, _ = _final_and_initial(pairs)
    assert final.count("ArrowEvalPython") == 1, final
    assert "ArrowEvalPython [simhash_udf(" in final


def test_propagation_round_plan_clean(spark):
    """One dup_components round: state rows and messages meet in ONE
    groupBy — no join, no broadcast, and exactly one exchange, on id."""
    from docling_ocr_qwen3vl_spark.operators.dedup import propagation_round

    nodes = spark.createDataFrame(
        [(1, 1, [2], False), (2, 1, [1, 3], True), (3, 2, [2], True)],
        "id long, comp long, nbrs array<long>, chg boolean",
    )
    refined = propagation_round(nodes)
    _assert_clean(refined, "propagation_round")
    plan = refined._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "BroadcastExchange" not in plan
    assert plan.count("Exchange") == 1
    assert "Exchange hashpartitioning(id#" in plan
    got = {r.id: (r.comp, r.chg) for r in refined.collect()}
    assert got == {1: (1, False), 2: (1, False), 3: (1, True)}


def test_lloyd_iteration_plan_clean(spark):
    """One ivf_kmeans Lloyd iteration: argmin projection + partial-agg
    groupBy(cell) — no join at all, nothing to go cartesian, and the
    aggregate is the map-side-combine hash form."""
    from docling_ocr_qwen3vl_spark.operators.similarity import (
        _init_centroids,
        lloyd_iteration_plan,
    )

    dim = 4
    base = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (k + 1)).cast("long") for k in range(dim)]).alias(
            "vq"
        ),
    )
    stats = lloyd_iteration_plan(base, _init_centroids(3, dim), dim)
    _assert_clean(stats, "lloyd_iteration")
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_ivf_pq_expr_plan_is_hash_join_with_grouped_limit(spark):
    """Positive shape assertion for the composed IVF-PQ expression arm:
    the candidate meet must be a broadcast HASH join on cell (the
    inverted-list restriction — a regression to a nested loop would scan
    every code for every query), and the top-k must run through Spark's
    WindowGroupLimit partial/final pair so each partition pre-trims to k
    rows BEFORE the q_id shuffle (the property that keeps the shuffle
    k-bounded instead of candidate-bounded at 10^12 vectors)."""
    import re

    from pyspark.sql import functions as F

    from docling_ocr_qwen3vl_spark.operators.similarity import ivf_pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    plan = (
        ivf_pq_topk(
            emb.filter(F.col("vec_id") >= 10),
            emb.filter(F.col("vec_id") < 10),
            n_probe=2,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"BroadcastHashJoin \[cell#\d+\], \[cell#\d+\]", plan)
    assert "WindowGroupLimit" in plan and ", Partial" in plan


def test_package_caches_nothing_by_name():
    """No named cache in the package: a ``.persist(...)`` or ``.cache()``
    holds blocks in the session's CacheManager until someone releases
    them, which a long-lived stream or server never reliably does.  Reuse
    an exchange inside one plan, or ``localCheckpoint`` across actions."""
    import ast
    from pathlib import Path

    import docling_ocr_qwen3vl_spark

    root = Path(docling_ocr_qwen3vl_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = getattr(fn, "attr", None) or getattr(fn, "id", "")
            if name == "register_cache" or (
                isinstance(fn, ast.Attribute) and name in ("persist", "cache")
            ):
                found.append(f"{path.relative_to(root)}:{node.lineno} {name}")
    assert not found, found


def test_layout_and_table_rules_live_in_geometry_only():
    """The G5 layout and G9 table rules have one definition,
    ``semantics/geometry.layout_boxes``/``table_cells``: no module under
    ``operators/`` or ``inference/`` reads a legacy/compact cell name or
    maps labels itself, so a fix cannot leave a second copy behind."""
    import ast
    from pathlib import Path

    import docling_ocr_qwen3vl_spark

    root = Path(docling_ocr_qwen3vl_spark.__file__).parent
    cell_names = {"row_span", "col_span", "is_header", "hdr"}
    found = []
    for sub in ("operators", "inference"):
        for path in sorted((root / sub).rglob("*.py")):
            for node in ast.walk(ast.parse(path.read_text(), str(path))):
                where = f"{path.relative_to(root)}:{getattr(node, 'lineno', 0)}"
                if (
                    isinstance(node, ast.Call)
                    and getattr(node.func, "attr", None) == "get"
                    and any(
                        isinstance(a, ast.Constant) and a.value in cell_names
                        for a in node.args
                    )
                ):
                    found.append(f"{where} .get({ast.unparse(node.args[0])})")
                if (isinstance(node, ast.Name) and node.id == "LABEL_MAP") or (
                    isinstance(node, ast.Attribute) and node.attr == "LABEL_MAP"
                ) or (
                    isinstance(node, ast.alias) and node.name == "LABEL_MAP"
                ):
                    found.append(f"{where} LABEL_MAP")
    assert not found, found
